"""Shared helpers for cross-engine-exact query twins."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column) -> Column:
    """2-decimal money column → exact integer cents (sums become exact int64
    arithmetic, identical across Spark/DuckDB/pandas regardless of order)."""
    return F.round(col * 100, 0).cast("long")


def cents_sql(col: str) -> str:
    return f"CAST(round({col} * 100, 0) AS BIGINT)"


def spread(df, *cols):
    """Give a compute-heavy map stage cluster-wide parallelism.

    A 100 TB table scan yields far more splits than cores, so this is a
    no-op there (guard: input partitions >= defaultParallelism). On small
    inputs — one parquet file ⇒ one split — per-row kernels (shingling,
    minhash signatures, hyperplane buckets) would otherwise run in a single
    task; one cheap exchange spreads them across all cores.

    Split estimate from the scan's file list + sizes (driver-side metadata
    only) — NOT `df.rdd.getNumPartitions()`, which builds the whole RDD
    graph per query on the driver (r2 verdict watch item). The estimate is
    SCAN-level: an explicit upstream coalesce()/repartition() on a
    file-backed input is invisible (callers here never do that). Non-file
    inputs (generated ranges, local relations) have no scan metadata, so
    only there we fall back to the RDD partition count — those plans are
    tiny by construction. Unknown filesystems are assumed big (no exchange
    added)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    files = df.inputFiles()
    est = len(files) if files else df.rdd.getNumPartitions()
    if files and 0 < est < target:
        import os

        try:
            split_bytes = 128 << 20  # spark.sql.files.maxPartitionBytes
            total = sum(
                os.path.getsize(f[5:] if f.startswith("file:") else f)
                for f in files
            )
            est = max(est, -(-total // split_bytes))
        except OSError:
            est = target  # non-local FS: assume enough splits
    if est == 0 or est >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)
