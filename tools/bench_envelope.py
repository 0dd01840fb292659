"""Machine-envelope probe matched to the QA workload's byte profile.

The round-1 envelope (0.86 at 2→8 cores) came from a cache-resident
pure-CPU probe — an upper bound for compute-only work. The QA kernel is not
cache-resident: per batch it scans multi-MB text buffers, splits and
dictionary-encodes token streams, and allocates large intermediates — i.e. it is
partially memory-bandwidth-bound, and shared-socket bandwidth decays with
busy-core count on top of the frequency envelope.

This probe runs the ACTUAL fused kernel (functions/qa_fused._fused_series)
standalone — no Spark, no JVM, no shuffle, no IO — in N independent
processes confined to N cores, and reports per-worker batches/sec at each
level. The per-worker decay 2→8 is the honest machine bound for this byte
profile: no engine change can beat it, because there is no engine in the
loop. Levels are interleaved round-robin and each reports the max across
rounds (noise only subtracts).

Two modes:
  kernel   — the round-2 probe: fused kernel only, cache-resident input.
             Upper bound for the compute phase.
  pipeline — round-3 probe matched to the FULL byte profile of the QA job:
             per loop each worker (a) reads a parquet-zstd pages file from
             tmpfs with column pruning (url, text), (b) runs the fused
             kernel, (c) writes + reads back the scored batch as
             lz4-compressed Arrow IPC on tmpfs (the shuffle-exchange
             stand-in: Spark's shuffle default is lz4 and spark.local.dir
             is tmpfs in bench runs), (d) writes the final scored table as
             parquet-zstd to tmpfs. No Spark, no JVM, no scheduler — the
             per-worker decay 2→8 is the machine bound for scan + compute +
             exchange + sink on this box.

Usage: python tools/bench_envelope.py [levels=2,8] [rounds=3] [secs=8] [mode=kernel]
"""

from __future__ import annotations

import os
import subprocess
import sys

# the checkout this file is in; the workers get it as PYTHONPATH
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WORKER = r"""
import os, sys, time
import numpy as np
# same malloc tuning the engine's Python workers get (session.py)
# (set by the parent before spawn; keep env as-is here)
from isimip_qa_spark.sources.pages import pages_pandas
from isimip_qa_spark.functions.qa_fused import _fused_series

batch = pages_pandas(np.arange(2000))["text"]
_fused_series(batch)  # warm model tables
t_end = time.time() + float(sys.argv[1])
n = 0
while time.time() < t_end:
    _fused_series(batch)
    n += 1
print(n)
"""


PIPELINE_WORKER = r"""
import os, sys, time
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.ipc
import pyarrow.parquet as pq
from isimip_qa_spark.functions.qa_fused import _fused_series

src = sys.argv[2]          # pre-staged parquet-zstd pages file (tmpfs)
scratch = sys.argv[3]      # per-worker scratch dir (tmpfs)
# the engine feeds the kernel 4096-row Arrow batches (session.py
# maxRecordsPerBatch) — the probe must match that working-set size or it
# measures a different cache regime: a 20k-row batch spills the per-core
# cache share and showed ~0.5 per-worker 2->8 where the engine itself
# measures 0.765
BATCH = 4096
# warm model tables + page cache
tbl = pq.read_table(src, columns=["url", "text"])
_fused_series(tbl.column("text").to_pandas().head(64))
t0 = time.time()
t_end = t0 + float(sys.argv[1])
n = 0
while time.time() < t_end:
    # (a) scan: parquet-zstd decode with column pruning, like the engine scan
    tbl = pq.read_table(src, columns=["url", "text"])
    texts = tbl.column("text").to_pandas()
    urls = tbl.column("url").to_pandas()
    # (b) compute + (c) exchange, per engine-sized Arrow batch
    shuf = os.path.join(scratch, "shuffle.arrow")
    for lo in range(0, len(texts), BATCH):
        chunk = texts.iloc[lo:lo + BATCH].reset_index(drop=True)
        scores = _fused_series(chunk)
        scored = pa.Table.from_pandas(
            pd.concat(
                [pd.DataFrame(
                    {"url": urls.iloc[lo:lo + BATCH].reset_index(drop=True)}),
                 scores],
                axis=1,
            ),
            preserve_index=False,
        )
        # exchange stand-in: lz4 Arrow IPC write + read back on tmpfs
        with pa.ipc.new_file(pa.OSFile(shuf, "wb"), scored.schema,
                             options=pa.ipc.IpcWriteOptions(compression="lz4")) as w:
            w.write_table(scored)
        with pa.ipc.open_file(shuf) as r:
            scored = r.read_all()
        # (d) sink: parquet-zstd write, like the metrics/kept-docs sink
        pq.write_table(scored, os.path.join(scratch, "out.parquet"),
                       compression="zstd")
    n += 1
# report loops/sec with the TRUE elapsed (whole loops overshoot t_end, so
# n/secs would quantize badly at small n)
print(n / (time.time() - t0))
"""


def stage_pipeline_input(rows: int, tmp: str) -> str:
    """Generate one parquet-zstd pages file (deterministic content)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from isimip_qa_spark.sources.pages import pages_pandas

    path = os.path.join(tmp, f"envelope_pages_{rows}.parquet")
    if not os.path.exists(path):
        pdf = pages_pandas(np.arange(rows))
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), path,
            compression="zstd",
        )
    return path


def run_level(n_workers: int, secs: float, mode: str = "kernel") -> float:
    """N kernel processes on N cores; returns total batches/sec."""
    tmp = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    if mode == "pipeline":
        src = stage_pipeline_input(int(os.environ.get("ENVELOPE_ROWS", "20000")), tmp)
    procs = []
    for i in range(n_workers):
        if mode == "pipeline":
            scratch = os.path.join(tmp, f"envelope_w{i}")
            os.makedirs(scratch, exist_ok=True)
            argv = [
                "taskset", "-c", str(i), sys.executable, "-c",
                PIPELINE_WORKER, str(secs), src, scratch,
            ]
        else:
            argv = ["taskset", "-c", str(i), sys.executable, "-c", WORKER, str(secs)]
        procs.append(
            subprocess.Popen(
                argv,
                stdout=subprocess.PIPE,
                text=True,
                env=dict(
                    os.environ,
                    PYTHONPATH=os.pathsep.join(
                        [REPO, *filter(None, [os.environ.get("PYTHONPATH")])]
                    ),
                    MALLOC_MMAP_THRESHOLD_="536870912",
                    MALLOC_TRIM_THRESHOLD_="536870912",
                ),
            )
        )
    total = 0.0
    for p in procs:
        out, _ = p.communicate()
        val = float(out.strip().splitlines()[-1])
        # kernel worker prints a loop count; pipeline worker prints loops/sec
        total += val / secs if mode == "kernel" else val
    return total


def main():
    levels = [int(x) for x in (sys.argv[1] if len(sys.argv) > 1 else "2,8").split(",")]
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    secs = float(sys.argv[3]) if len(sys.argv) > 3 else 8.0
    mode = sys.argv[4] if len(sys.argv) > 4 else "kernel"
    best: dict[int, float] = {}
    for r in range(rounds):
        for lv in levels:
            rate = run_level(lv, secs, mode)
            best[lv] = max(best.get(lv, 0.0), rate)
            print(
                f"round {r} level {lv}: {rate:.2f} batches/s "
                f"({rate / lv:.2f}/worker)",
                flush=True,
            )
    for a in levels:
        for b in levels:
            if b == 4 * a and a in best and b in best:
                eff = (best[b] / best[a]) / 4.0
                print(
                    f"ENVELOPE[{mode}] {a}->{b}: per-worker ratio {eff:.3f} "
                    f"(engine-free bound for the QA byte profile)"
                )


if __name__ == "__main__":
    main()
