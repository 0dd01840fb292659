"""Streaming QA: score pages as they arrive; emit windowed QA metrics.

Four entry points:
- `score_stream`: the batch QA pass per micro-batch — `foreachBatch` runs
  plans/pipeline.run_qa on each batch into `<out_dir>/batch=<id>`, with its
  data, metrics, lineage and chunk manifests.
- `windowed_metrics_stream`: watermark + tumbling-window keep-rate metrics
  (late pages beyond the watermark are dropped, the streaming analogue of
  the reference's unparseable-time drop).
- `host_state_stream`: a custom stateful operator via applyInPandasWithState
  — running per-host document counts + first/last seen, state carried
  across micro-batches (the incremental cross-file accumulation of
  countmap.py:29-32, done with real stream state).
- `dedup_stream`: streaming exact dedup — watermark-bounded
  `dropDuplicates` on xxhash64(text), the streaming twin of
  queries/dedup.dedup_exact (same 8-byte dedup key; state size bounded by
  the watermark horizon instead of unbounded full-corpus state).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..catalog import PAGES_SCHEMA
from ..plans.config import QAConfig
from ..plans.pipeline import run_qa
from ..plans.stages import STAGES, rules_pass_expr


def read_pages_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    return spark.readStream.schema(PAGES_SCHEMA).parquet(src_dir)


def score_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    cfg: QAConfig | None = None,
):
    """Score arriving pages with the batch pass: each micro-batch is one
    run_qa out_dir, `<out_dir>/batch=<id>`. A replayed batch (same id, same
    files) resumes through run_qa's chunk manifests: finished chunks are
    skipped, unfinished ones cleared and recomputed. Read the output with
    read_scored(spark, f"{out_dir}/batch=*"). Returns the StreamingQuery."""
    cfg = cfg or QAConfig()
    pages = read_pages_stream(spark, src_dir)
    if not cfg.extract_from_html:
        # a micro-batch reaches run_qa as an RDD scan: prune html here
        pages = pages.drop("html")
    return (
        pages.writeStream.foreachBatch(
            lambda df, batch_id: run_qa(
                df.sparkSession, df, cfg, f"{out_dir}/batch={batch_id}"
            )
        )
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def windowed_metrics_agg(pages: DataFrame, cfg: QAConfig, watermark: str = "1 hour"):
    """Watermarked tumbling-window keep-rate per language (shared by the
    streaming sink and the complete-mode test harness)."""
    keep = rules_pass_expr(cfg)
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "1 day").alias("w"), F.col("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_keep"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "lang",
            "n_docs",
            "n_keep",
        )
    )


def windowed_metrics_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    cfg: QAConfig | None = None,
    watermark: str = "1 hour",
):
    """Append-mode windowed metrics: a window emits once the watermark
    passes its end (finalized extraction artifacts, never rewritten)."""
    cfg = cfg or QAConfig()
    pages = read_pages_stream(spark, src_dir).drop("html")
    # rules and langid are pure column exprs → compute keep inline (no UDF
    # in the agg); language profiles key their thresholds on lang_pred
    stages = {s.name: s for s in STAGES}
    if cfg.lang_profiles:
        pages = stages["langid"].apply(pages, cfg)
    enriched = stages["rules"].apply(pages, cfg)
    metrics = windowed_metrics_agg(enriched, cfg, watermark)
    return (
        metrics.writeStream.format("parquet")
        .option("path", f"{out_dir}/metrics")
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    watermark: str = "1 day",
):
    """Streaming exact dedup: keep the first arrival of each distinct text.

    Key discipline: duplicate state is keyed on (xxhash64(text),
    length(text)) — 16 bytes per document in the state store, never the
    document bytes. NOTE the contract here is WEAKER than batch
    dedup_exact: the batch path windows on (hash, text) so 64-bit
    collisions stay independent, but streaming state cannot hold the text,
    so two distinct documents colliding on BOTH the 64-bit hash and the
    byte length within the watermark horizon are silently deduped
    (probability ≈ n²/2^64 per horizon before the length factor — accepted
    and documented, not hidden behind a "same discipline" claim). The
    length column is a free secondary discriminator: hash collisions
    between equal-length strings are the only remaining false merges.
    `dropDuplicates` state grows forever on an unbounded stream, so the
    duplicate horizon is bounded by a warc_ts watermark
    (dropDuplicatesWithinWatermark drops state for expired windows): a
    re-crawl of the same page more than `watermark` later re-emits, which
    is the standard streaming-dedup contract."""
    pages = read_pages_stream(spark, src_dir).drop("html")
    deduped = (
        pages.filter(F.col("warc_ts").isNotNull())
        .withColumn("th", F.xxhash64("text"))
        .withColumn("tl", F.length("text"))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["th", "tl"])
        .drop("th", "tl")
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", f"{out_dir}/deduped")
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


HOST_STATE_SCHEMA = "host string, n_docs long, first_ts timestamp, last_ts timestamp"
_STATE_SCHEMA = "n long, first_ts long, last_ts long"


def _update_host_state(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful kernel: accumulate per-host counts/first/last across
    micro-batches (timestamps carried as epoch-micros in state)."""
    n = 0
    first = last = None
    if state.exists:
        n, first, last = state.get
    for pdf in batches:
        n += len(pdf)
        ts = pdf["warc_ts"]
        lo = int(ts.min().value // 1000)
        hi = int(ts.max().value // 1000)
        first = lo if first is None else min(first, lo)
        last = hi if last is None else max(last, hi)
    state.update((n, first, last))
    yield pd.DataFrame(
        {
            "host": [key[0]],
            "n_docs": [n],
            "first_ts": [pd.Timestamp(first * 1000)],
            "last_ts": [pd.Timestamp(last * 1000)],
        }
    )


def host_state_stream(
    spark: SparkSession, src_dir: str, out_dir: str
):
    """Custom stateful streaming operator: per-host running totals via
    applyInPandasWithState (update mode)."""
    pages = read_pages_stream(spark, src_dir).select(
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"), F.col("warc_ts")
    )
    counts = pages.groupBy("host").applyInPandasWithState(
        _update_host_state,
        outputStructType=HOST_STATE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def write_batch(df: DataFrame, epoch: int) -> None:
        df.withColumn("epoch", F.lit(epoch)).write.mode("append").parquet(
            f"{out_dir}/host_state"
        )

    return (
        counts.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
