"""SparkSession factory tuned for the QA workload.

Scale rationale (100 TB target, tested on local[N]):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting stand in
  for hand-tuning at every scale factor.
- Arrow on, small record batches: `text`/`html` columns are large; a 10k-row
  Arrow batch of 5 KiB docs is ~50 MiB per Python worker — cap it.
- Session timezone UTC: parity with naive parquet timestamps read by the
  DuckDB oracle.
- `parquet.filterPushdown`/column pruning are on by default; we keep explicit
  selects everywhere so `html:binary` is never scanned by text-only stages
  (reference analogue: single-variable projection,
  /root/reference/isimip_qa/extractions/histogram.py:32).
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

# the cores this process may run on, unless SPARK_GRAFT_CPUS says otherwise
DEFAULT_SHUFFLE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)


# glibc malloc tuning for the executor Python workers: the QA kernels
# allocate/free multi-MB string buffers per Arrow batch; with the default
# dynamic mmap threshold every one is an mmap/munmap pair, and the resulting
# TLB shootdowns serialize ACROSS worker processes in the kernel (measured
# on this sandbox: ~1.8× worker throughput from this alone, and most of the
# lost 2→8-core scaling). Raising the thresholds keeps big buffers on the
# reusable heap free-list.
MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "536870912",
    "MALLOC_TRIM_THRESHOLD_": "536870912",
}


# Per-task cost of a reused Python worker: before it loads a task's UDF,
# PySpark calls importlib.invalidate_caches() (pyspark/worker_util.py,
# setup_spark_files). On Python 3.11 and 3.12 that re-reads the central
# directory of every cached zipimporter: 14 of them over pyspark.zip (1,328
# entries) and the py4j zip, 0.12-0.40 s of one core per task before the
# task's first row with 4 workers busy (3.13 made the invalidation lazy, so
# it costs ~0 there). Importing this package inside a PySpark worker
# installs this helper (isimip_qa_spark/__init__.py), once per worker
# process and for every UDF the package ships, so a worker re-reads an
# archive only when it has changed since that importer last read it.
def keep_unchanged_zip_dirs() -> None:
    """Wrap zipimporter.invalidate_caches in this process: an importer keeps
    the directory it holds while the archive's (st_ino, st_size,
    st_mtime_ns) equals what it saw when it last read it, and re-reads as
    before when the stat differs, fails, or was never recorded. The stat is
    taken before the read, so an archive rewritten during a read is read
    again next time. Idempotent: a second call wraps nothing.

    The install also records the stat of every cached importer whose
    archive was last changed (mtime and ctime) before this process started,
    so a worker's first wrapped call skips those too. That is sound where
    every directory the process holds was read after it started: PySpark
    re-reads them all in each task's setup, before the task's UDF (and
    so this package) is loaded. Without a readable /proc, or for an archive
    changed after that bound, nothing is recorded and the first wrapped
    call reads."""
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "keeps_unchanged", False):
        return

    def invalidate_caches(self):
        seen = _zip_stat(self.archive)
        if seen is None or getattr(self, "_dir_stat", None) != seen:
            reread(self)
            self._dir_stat = seen

    invalidate_caches.keeps_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    started = _process_start()
    if started is None:
        return
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            seen = _zip_stat(imp.archive, before_ns=started)
            if seen is not None:
                imp._dir_stat = seen


def _zip_stat(archive: str, before_ns: int | None = None) -> tuple | None:
    """(st_ino, st_size, st_mtime_ns) of `archive`; None if the stat fails
    or, given `before_ns`, the archive changed at or after it."""
    try:
        st = os.stat(archive)
    except OSError:
        return None
    if before_ns is not None and max(st.st_mtime_ns, st.st_ctime_ns) >= before_ns:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


# /proc/stat's btime is whole seconds; the bound is taken this much earlier
_START_MARGIN_NS = 1_000_000_000
_PROC = "/proc"


def _process_start() -> int | None:
    """A lower bound on this process's start, in epoch ns: boot time
    (/proc/stat btime) plus the start in clock ticks after boot (field 22
    of /proc/self/stat), less a margin. None where /proc cannot be read."""
    try:
        with open(os.path.join(_PROC, "self", "stat")) as f:
            # the command name (field 2) may hold spaces: split after it
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open(os.path.join(_PROC, "stat")) as f:
            btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime "))
        hz = os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError, StopIteration):
        return None
    return btime * 1_000_000_000 + ticks * 1_000_000_000 // hz - _START_MARGIN_NS


def get_spark(
    app_name: str = "isimip-qa-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with QA-workload defaults."""
    # local mode: python workers inherit the JVM's env, which inherits ours
    # (must be set before the JVM launches; harmless if it already did)
    for k, v in MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # keep parallelismFirst effective on SMALL inputs: the default 1 MiB
        # minPartitionSize floor coalesces a few-MB post-agg stage to ~3
        # partitions, serialising every downstream compute-heavy expression
        # (measured: 5× on the shingle explode after a groupBy). 64 KiB keeps
        # defaultParallelism partitions at bench scale; at 100-TB scale the
        # 64 MiB advisory size dominates and behavior is unchanged.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Arrow batch rows trade per-batch overhead against kernel
        # working-set size (cache pressure at high core counts)
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        # 128 MiB splits: the sweet spot for wide parquet scans of page tables.
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.ui.enabled": os.environ.get("SPARK_UI", "false"),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
    }
    # cluster mode: same malloc tuning for executor-side python workers
    for k, v in MALLOC_ENV.items():
        conf[f"spark.executorEnv.{k}"] = v
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
