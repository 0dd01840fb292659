"""The fused QA DAG: scope filters → all stages in one pass → write-audit
sink + per-partition metrics/lineage, as ONE Spark job over the chunks a
run still has to compute (chunk manifests are the resume unit,
plans/checkpoint.py).

Physical shape (the properties that carry to 1000 executors / 100 TB):
- ONE scan feeds all stages (reference's shared scan, main.py:130-136):
  stages only add columns, so the whole DAG is a single narrow pipeline —
  scan → filter → mapInPandas(sink) → write, no shuffle. Each sink task
  scores one scan split in place: keep is per document and metrics are per
  (chunk, partition), so nothing needs a host key, and url-hash-bucketed
  input already has balanced splits. A retried task rereads the same
  files in the same order, so it rewrites the same bytes.
- Scope filters (warc_ts window = Period, lang cohort = Region) are applied
  before anything else → parquet/Iceberg pushdown + partition pruning.
- `html` is dropped immediately unless a stage needs it (column pruning
  discipline; the scan never materialises it for text-only runs).
- Metrics are computed per Spark partition by the sink task inside the
  same pass (plans/sink.py), appended to a metrics table — the analogue
  of the reference's extraction artifacts (mixins/extractions.py:42-62).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import contextlib
import os
import shutil
import uuid

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
from .stages import FUSED_STAGES, STAGES

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


def _replay_fetched_artifacts(out_dir: str, chunk: int, fetch_wall: float) -> None:
    """Materialize the metrics/lineage rows of a just-fetched chunk from
    its manifest (written by fetch_chunk), keeping the same columns as
    computed chunks so the metrics/lineage tables stay schema-stable."""
    import pandas as pd

    man = chunk_manifest(out_dir, chunk) or {}
    recs = man.get("metrics")
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
                "chunk": chunk,
                "stages": ",".join(man.get("stages", [])),
                "rows": man.get("rows", 0),
                "wall_s": round(fetch_wall, 3),
            }
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


def scope_filter(df: DataFrame, cfg: QAConfig) -> DataFrame:
    """Period + Region analogues; both push down to the scan."""
    if cfg.window is not None:
        lo, hi = cfg.window
        df = df.filter(
            F.col("warc_ts").between(F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp"))
        )
    if cfg.cohort_langs is not None:
        df = df.filter(F.col("lang").isin(*cfg.cohort_langs))
    # tolerant-time semantics (reference: unparseable → NaT → dropped,
    # mixins/extractions.py:82-84)
    return df.filter(F.col("warc_ts").isNotNull())


def apply_stages(df: DataFrame, cfg: QAConfig, fused: bool = True) -> DataFrame:
    """Fused (default): the three Python stages run as ONE pandas UDF —
    one Arrow transfer of `text` per batch instead of three. The unfused
    path keeps per-stage physical separation (the test oracle, and the
    streaming scorer)."""
    for stage in (FUSED_STAGES if fused else STAGES):
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


def _metric_aggs(cfg: QAConfig) -> list:
    return [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep"),
        F.round(F.avg("ppl"), 4).alias("avg_ppl"),
        F.round(F.avg("n_words"), 4).alias("avg_words"),
        F.sum(
            F.when(F.col("n_words") < cfg.min_words, 1).otherwise(0)
        ).alias("trip_short"),
        F.sum(
            F.when(F.col("symbol_ratio") > cfg.max_symbol_ratio, 1).otherwise(0)
        ).alias("trip_symbol"),
        F.sum(F.when(F.col("scrubbed"), 1).otherwise(0)).alias("n_scrubbed"),
        F.min("warc_ts").alias("ts_min"),
        F.max("warc_ts").alias("ts_max"),
        # raw sums for exact rollups (F.sum/F.count skip nulls, matching
        # the sink's dropna accumulators)
        F.sum("ppl").alias("ppl_sum"),
        F.count("ppl").alias("ppl_n"),
        F.sum("n_words").alias("words_sum"),
        F.count("n_words").alias("words_n"),
    ]


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
    still missing is computed by ONE sink job (_run_single_pass), whose
    per-chunk manifests are published after it commits.

    Returns a summary dict: chunks run/skipped/fetched, rows, wall seconds.
    The scored corpus lands in out_dir/data/chunk=K/; per-partition metrics
    in out_dir/metrics/; lineage rows in out_dir/lineage/.

    `cache_base`: optional shared artifact cache (path or http(s)/file URL
    mirroring an out_dir layout) — completed chunks with a matching config
    hash are fetched instead of computed (the reference's remote-fetch skip,
    mixins/extractions.py:16-28).
    """
    t0 = time.time()
    df = scope_filter(pages, cfg)
    if cfg.extract_from_html:
        # raw-capture entry: derive text from html in the map stage (pure
        # JVM regexp exprs — functions/extract.py); html bytes never reach
        # a shuffle or Python
        from ..functions.extract import extract_text_expr

        df = df.withColumn("text", extract_text_expr(F.col("html")))
    if not with_html:
        # column-pruning discipline: text stages must never scan html bytes
        df = df.drop("html")

    done = completed_chunks(out_dir) if resume else set()
    fetched: list[int] = []
    if resume and cache_base and len(done) < cfg.n_chunks:
        for c in range(cfg.n_chunks):
            t_fetch = time.time()
            if c not in done and fetch_chunk(
                out_dir, c, cache_base, cfg.config_hash()
            ):
                _replay_fetched_artifacts(out_dir, c, time.time() - t_fetch)
                fetched.append(c)
        done = completed_chunks(out_dir)

    # a fully-resumed run computes nothing — the reference's exists()-skip,
    # main.py:126-128
    todo = [c for c in range(cfg.n_chunks) if c not in done]
    rows = 0
    if todo:
        if "bucket" not in df.columns:
            df = df.withColumn(
                "bucket", F.pmod(F.xxhash64("url"), F.lit(cfg.n_chunks))
            )
        # else: input is pre-bucketed on pmod(xxhash64(url), n_chunks) — a
        # resume's bucket filter hits the partition column and prunes the
        # scan (Iceberg bucket-partition analogue). Contract: layout bucket
        # count == n_chunks.
        rows = _run_single_pass(df, cfg, out_dir, todo)

    return {
        "chunks_run": todo,
        "chunks_skipped": sorted(done - set(fetched)),
        "chunks_fetched": fetched,
        "rows": rows,
        "wall_s": round(time.time() - t0, 3),
        "config_hash": cfg.config_hash(),
    }


def _run_single_pass(
    df: DataFrame,
    cfg: QAConfig,
    out_dir: str,
    todo: list[int],
) -> int:
    """ONE fused job computes every chunk in `todo`: each scan split goes
    straight into the write-audit mapInPandas sink (plans/sink.py), which
    scores it, writes per-chunk parquet, and returns the per-(chunk,
    partition) metrics rows — no shuffle, no second job, no read-back. Each
    chunk's manifest is published after the job commits, so a later
    invocation resumes chunk-wise; a driver killed during the job
    recomputes every chunk it had not published. Returns the number of
    rows scored."""
    t0 = time.time()
    if len(todo) < cfg.n_chunks:
        # resume: only the missing buckets (on pre-bucketed input, a
        # partition filter that prunes the scan)
        df = df.filter(F.col("bucket").isin(*todo))
    # overwrite semantics: clear what a crashed prior run left in the chunks
    # about to be computed (unpublished part files, abandoned tmps); chunks
    # outside `todo` are never touched. A resume=False rerun unpublishes a
    # chunk before clearing it, so no manifest outlives its files if this
    # job dies.
    for c in todo:
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(manifest_dir(out_dir), f"chunk_{c}.json"))
        shutil.rmtree(chunk_path(out_dir, c), ignore_errors=True)
    metrics_pdf = qa_sink(
        df.withColumnRenamed("bucket", "chunk"), out_dir, cfg
    ).toPandas()
    cfg_hash = cfg.config_hash()
    metrics_pdf["config_hash"] = cfg_hash
    _append_parquet_driver_side(metrics_pdf, f"{out_dir}/metrics")
    per_chunk = metrics_pdf.groupby("chunk")["n_docs"].sum()
    wall = round(time.time() - t0, 3)
    stages = [s.name for s in STAGES]
    import pandas as pd

    # lineage: what ran, over what, producing what (north_rule)
    lineage_pdf = pd.DataFrame(
        [
            {
                "config_hash": cfg_hash,
                "chunk": c,
                "stages": ",".join(stages),
                "rows": int(per_chunk.get(c, 0)),
                "wall_s": wall,
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
    return int(per_chunk.sum())


def read_scored(spark: SparkSession, out_dir: str) -> DataFrame:
    """Scored corpus with the full scrubbed column reconstructed from the
    stored delta (byte-identical: unchanged docs coalesce to `text`)."""
    df = spark.read.parquet(f"{out_dir}/data")
    if "text_scrubbed" not in df.columns and "scrub_delta" in df.columns:
        df = df.withColumn(
            "text_scrubbed", F.coalesce(F.col("scrub_delta"), F.col("text"))
        )
    return df
