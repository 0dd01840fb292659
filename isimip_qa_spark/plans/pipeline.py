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
- `html` is dropped immediately unless a stage needs it (column pruning
  discipline; the scan never materialises it for text-only runs).
- Metrics are computed per Spark partition by the sink task inside the
  same pass (plans/sink.py), appended to a metrics table — the analogue
  of the reference's extraction artifacts (mixins/extractions.py:42-62).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import operator
import os
import shutil
import time
import uuid
from dataclasses import replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import (
    chunk_files,
    chunk_manifest,
    chunk_path,
    completed_chunks,
    fetch_chunk,
    manifest_dir,
    mark_chunk_done,
)
from .config import QAConfig
from .sink import METRICS_SCHEMA, qa_sink
from .skew import detect_hot_hosts  # noqa: F401  unused; perfbench/run.py wraps it
from .stages import STAGES

# pandas dtypes of METRICS_SCHEMA's numeric columns — fetched-chunk metrics
# replayed from JSON manifests are coerced to these so an all-None column
# (e.g. a chunk whose every partition had zero ppl rows) can't land as an
# object-typed parquet column and break spark.read.parquet of out_dir/metrics
_METRICS_DTYPES = {
    name: {"int": "int32", "long": "int64", "double": "float64"}[t]
    for name, t in (f.split() for f in METRICS_SCHEMA.split(", "))
    if t != "timestamp"
}


def _metrics_records(pdf) -> list[dict]:
    """Chunk metrics rows as JSON-safe records for the chunk manifest —
    fetchers replay them so a cache-hydrated out_dir keeps the full
    artifact contract (metrics/lineage present), not just the data."""
    import pandas as pd

    recs = pdf.to_dict("records")
    for r in recs:
        for k in ("ts_min", "ts_max"):
            v = r.get(k)
            r[k] = None if v is None or pd.isna(v) else str(v)
        for k, v in list(r.items()):
            if v is not None and pd.isna(v):
                r[k] = None
    return recs


def _replay_fetched_artifacts(out_dir: str, fetch_walls: dict[int, float]) -> None:
    """Materialize the metrics/lineage rows of the just-fetched chunks from
    their manifests (written by fetch_chunk) as ONE metrics and ONE lineage
    file, keeping the same columns as computed chunks so the metrics/lineage
    tables stay schema-stable."""
    import pandas as pd

    mans = {c: chunk_manifest(out_dir, c) or {} for c in fetch_walls}
    recs = [r for man in mans.values() for r in man.get("metrics") or []]
    if recs:
        pdf = pd.DataFrame(recs)
        for k in ("ts_min", "ts_max"):
            if k in pdf.columns:
                pdf[k] = pd.to_datetime(pdf[k]).astype("datetime64[us]")
        for k, dt in _METRICS_DTYPES.items():
            if k in pdf.columns:
                pdf[k] = pdf[k].astype(dt)
        _append_parquet_driver_side(pdf, f"{out_dir}/metrics")
    lineage = pd.DataFrame(
        [
            {
                "config_hash": man.get("config_hash", ""),
                "chunk": c,
                "stages": ",".join(man.get("stages", [])),
                "rows": man.get("rows", 0),
                "wall_s": round(fetch_walls[c], 3),
            }
            for c, man in mans.items()
        ]
    )
    _append_parquet_driver_side(lineage, f"{out_dir}/lineage")


def _append_parquet_driver_side(pdf, path: str) -> None:
    """Append a (small, already-collected) pandas frame as one parquet file.

    Metrics and lineage frames live on the driver by construction (one row
    per partition/chunk); round-tripping them through createDataFrame +
    df.write costs a full Spark job each (~0.5-1 s of fixed latency per run,
    pure Amdahl loss at high core counts). A direct pyarrow write is the
    same on-disk layout a `writeTo(...).append()` would produce — on an
    Iceberg deployment this is one catalog append."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(path, f"part-{uuid.uuid4().hex}.parquet"),
        coerce_timestamps="us",  # Spark-readable micros, not pandas nanos
        allow_truncated_timestamps=True,
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
    with_html: bool = False,
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
    return run_targets(spark, pages, [(cfg, out_dir, cache_base)], resume, with_html)[0]


def run_targets(
    spark: SparkSession,
    pages: DataFrame,
    targets: list[tuple[QAConfig, str, str | None]],
    resume: bool = True,
    with_html: bool = False,
) -> list[dict]:
    """run_qa over several (cfg, out_dir, cache_base) targets whose configs
    differ only in `window` and `cohort_langs` (a grid's combos), with ONE
    sink job for all of them. Per target, on the driver: the resume check
    and the cache fetch. Then one job scores each row of the union of the
    targets' missing chunks once and writes it to every target it belongs
    to. Then, per target, the driver publishes metrics, lineage and chunk
    manifests. A driver killed during the job recomputes every (target,
    chunk) it had not published. Returns one run_qa summary per target;
    a computed target's `wall_s` is its own driver time plus its row share
    of the job."""
    if len({replace(c, window=None, cohort_langs=None) for c, _, _ in targets}) > 1:
        raise ValueError("targets of one job may differ only in window and cohort_langs")
    summaries = []
    for cfg, out_dir, cache_base in targets:
        t0 = time.time()
        done = completed_chunks(out_dir) if resume else set()
        fetch_walls: dict[int, float] = {}
        if resume and cache_base:
            for c in range(cfg.n_chunks):
                t_fetch = time.time()
                if c not in done and fetch_chunk(
                    out_dir, c, cache_base, cfg.config_hash()
                ):
                    fetch_walls[c] = time.time() - t_fetch
        if fetch_walls:
            _replay_fetched_artifacts(out_dir, fetch_walls)
        summaries.append(
            {
                # a fully-resumed run computes nothing — the reference's
                # exists()-skip, main.py:126-128
                "chunks_run": [
                    c for c in range(cfg.n_chunks)
                    if c not in done and c not in fetch_walls
                ],
                "chunks_skipped": sorted(done),
                "chunks_fetched": sorted(fetch_walls),
                "rows": 0,
                "wall_s": time.time() - t0,
                "config_hash": cfg.config_hash(),
            }
        )

    work = [(t, s) for t, s in zip(targets, summaries) if s["chunks_run"]]
    if work:
        t_job = time.time()
        metrics = _run_single_pass(
            pages, [(cfg, out_dir, s["chunks_run"]) for (cfg, out_dir, _), s in work],
            with_html,
        )
        job_s = time.time() - t_job
        total = sum(int(m["n_docs"].sum()) for m in metrics)
        for ((cfg, out_dir, _), s), m in zip(work, metrics):
            t0 = time.time()
            s["rows"] = int(m["n_docs"].sum())
            share = job_s * (s["rows"] / total if total else 1 / len(work))
            _publish(out_dir, cfg, s["chunks_run"], m, share)
            s["wall_s"] += share + time.time() - t0
    for s in summaries:
        s["wall_s"] = round(s["wall_s"], 3)
    return summaries


def _run_single_pass(
    pages: DataFrame,
    work: list[tuple[QAConfig, str, list[int]]],
    with_html: bool,
) -> list:
    """ONE fused job computes every chunk in each (cfg, out_dir, todo) of
    `work`: the scan, filtered by the OR over targets of scope_pred(cfg) ∧
    bucket ∈ todo, goes straight into the write-audit mapInArrow sink
    (plans/sink.py) with a `targets` column listing the targets each row
    belongs to. The sink scores each row once, writes it to every target's
    per-chunk parquet, and returns per-(target, chunk, partition) metrics
    rows — no shuffle, no second job, no read-back. Returns each target's
    metrics frame."""
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
    if not with_html:
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
    metrics_pdf = qa_sink(
        df.withColumnRenamed("bucket", "chunk"), [d for _, d, _ in work], cfg
    ).toPandas()
    by_target = metrics_pdf.groupby("target")
    return [
        (by_target.get_group(i) if i in by_target.groups else metrics_pdf.iloc[:0])
        .drop(columns="target")
        .reset_index(drop=True)
        for i in range(len(work))
    ]


def _publish(out_dir: str, cfg: QAConfig, todo: list[int], metrics_pdf, wall: float) -> None:
    """Append a computed target's metrics and lineage rows, then publish one
    manifest per chunk in `todo`, so a later invocation resumes chunk-wise."""
    import pandas as pd

    cfg_hash = cfg.config_hash()
    metrics_pdf["config_hash"] = cfg_hash
    _append_parquet_driver_side(metrics_pdf, f"{out_dir}/metrics")
    per_chunk = metrics_pdf.groupby("chunk")["n_docs"].sum()
    stages = [s.name for s in STAGES]
    # lineage: what ran, over what, producing what (north_rule)
    lineage_pdf = pd.DataFrame(
        [
            {
                "config_hash": cfg_hash,
                "chunk": c,
                "stages": ",".join(stages),
                "rows": int(per_chunk.get(c, 0)),
                "wall_s": round(wall, 3),
            }
            for c in todo
        ]
    )
    _append_parquet_driver_side(lineage_pdf, f"{out_dir}/lineage")
    for c in todo:
        mark_chunk_done(
            out_dir,
            c,
            {
                "rows": int(per_chunk.get(c, 0)),
                "config_hash": cfg_hash,
                "stages": stages,
                "files": chunk_files(out_dir, c),
                "metrics": _metrics_records(
                    metrics_pdf[metrics_pdf["chunk"] == c]
                ),
            },
        )


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
