"""Streaming DSIR importance scoring — the online face of queries/dsir.py.

A crawl ingest stream cannot run Gumbel-top-K (global top-K needs the
whole corpus); the standard conversion is threshold selection: fit the
model and pick the log-weight cutoff batch-side (e.g. the weight of the
K-th doc of a reference window, or a quantile from `dsir_weights`), then
score arriving pages statelessly against the broadcast model and split on
the cutoff. This mirrors how the batch pipeline's other streaming twins
degrade their batch formulation (decontaminate_stream: join → broadcast
membership; dedup_stream: group-by → watermarked state).

Plan shape: one stateless vectorized mapInPandas (the SAME `_score_kernel`
as the batch query — parity is bit-exact, asserted in
tests/test_dsir_stream.py), no shuffle, no streaming state; the
foreachBatch sink appends accepted pages to `{out}/accepted` and a
text-free audit row per page to `{out}/scored` (the metrics-only
discipline of plans/sink.py). NULL-text pages are undecidable: they route
to the audit with a NULL logweight and are never accepted, never dropped
silently.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.dsir import _score_kernel
from .qa_stream import read_pages_stream


def dsir_score_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    logratio: np.ndarray,
    threshold: float,
):
    """Score arriving pages with the broadcast B-float DSIR model; append
    pages with logweight ≥ threshold to `{out_dir}/accepted` and the
    text-free audit (url, warc_ts, lang, n_grams, logweight) for EVERY
    page to `{out_dir}/scored`. Returns the StreamingQuery."""
    lr = np.asarray(logratio, dtype=np.float64)
    bcast = spark.sparkContext.broadcast(lr)

    pages = read_pages_stream(spark, src_dir).drop("html")
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in pages.schema.fields
    ) + ", n_grams long, logweight double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        k = _score_kernel(bcast.value)
        for pdf in batches:
            s = k(pdf["text"])  # NULL text scores NULL n_grams and logweight
            yield pdf.assign(n_grams=s["n_grams"].array, logweight=s["logweight"].array)

    scored = pages.mapInPandas(score, schema=out_schema)

    def write_batch(df: DataFrame, epoch: int) -> None:
        df = df.persist()
        try:
            df.filter(F.col("logweight") >= threshold).drop(
                "n_grams", "logweight"
            ).write.mode("append").parquet(f"{out_dir}/accepted")
            df.select(
                "url", "warc_ts", "lang", "n_grams", "logweight"
            ).write.mode("append").parquet(f"{out_dir}/scored")
        finally:
            df.unpersist()

    return (
        scored.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
