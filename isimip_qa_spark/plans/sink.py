"""Write-audit sink: the whole QA pass as ONE Spark job.

`scan → scope filter → mapInArrow(sink)`, no shuffle: each sink task
scores one scan split in place. The sink computes the fused QA kernel
(functions/qa_fused.py) on the Arrow batch's `text` array as it arrives,
derives the keep/drop decision, streams the scored rows into per-chunk
parquet files with pyarrow — one set per target out_dir a row belongs to,
each row scored once — and returns ONLY the per-(target, chunk, partition)
metrics rows.

Arrow end to end: no pandas object is built on this path. `url`, `text`
and `lang` go to the parquet writer as the very arrays Spark sent, next to
the kernel's score columns; `warc_ts`, and the metrics' `ts_min`/`ts_max`
(`timestamp_ntz`), hold the session time zone's wall-clock time with the
zone dropped (what a pandas hand-off would hold).
Rows are split per (target, chunk) by one stable sort and a `take`, so
each group is a slice in scan order, and the metrics come from numpy views
of the batch.

Why this shape (measured on this sandbox, reasoned for 1000 executors):
- `text` crosses the JVM→Python boundary exactly once and nothing
  row-sized crosses back — the job's collect() is a few metric rows per
  partition (the reference analogue: an extraction emits its artifact, not
  the grid — /root/reference/isimip_qa/mixins/extractions.py:42-62).
- A reused Python worker pays a fixed cost per task before its first
  row: PySpark's importlib.invalidate_caches() re-reads the directory of
  every zip it imports from (pyspark.zip, py4j), 0.12-0.40 s of one core
  per task on Python 3.11 with 4 workers busy. Chunks and stream
  micro-batches are small tasks. The sink does nothing about it itself:
  unpickling it imports this package, whose import in a worker installs
  session.keep_unchanged_zip_dirs for the worker's life (and for every
  other package UDF), so a worker re-reads an archive only when it has
  changed; the call then takes 0.2 ms.
- The separate audit job (re-scan written output for metrics) and the
  committer's driver-side rename pass disappear; those were the remaining
  serial terms in the N→4N scaling measurement (BASELINE.md).
- Files are written atomically: tmp name per task attempt, os.replace on
  close; re-run of a failed task overwrites (last-wins), so the manifest
  written by the driver after the job commits is still the publish step —
  write-audit-publish with the manifest as the catalog (Iceberg-snapshot
  analogue, and the resume unit per north_rule).

Semantics contract: identical output values to the column-expression stages
(plans/stages.py STAGES, the test oracle) — enforced by the kernel==stages
tests and the keep-decision agreement test (tests/test_rule_table.py).
A NULL `text` row is written with NULL scores and keep=False (its NULL
scores compare False in every keep conjunct), adds to n_docs but not to
ppl_n or words_n. Only the oracle differs there: its expression form yields
keep=NULL, so the tests compare such rows as "not kept".
"""

from __future__ import annotations

import logging
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from ..functions.qa_fused import PA_TYPES, SCORE_COLS, _fused_arrow
from ..functions.textstats import RULE_CONJUNCTS, keep_from

log = logging.getLogger(__name__)

# rows per parquet row group of a sink file. The sink buffers each chunk's
# rows and writes exactly this many per row group (the remainder at close),
# so the file layout does not depend on how Spark's Arrow batches mix
# chunks; 4096 = the session's spark.sql.execution.arrow.maxRecordsPerBatch
ROW_GROUP_ROWS = 4096


def _round4_half_up(x: float) -> float:
    """Twin of Spark's F.round(col, 4): Spark rounds
    BigDecimal.valueOf(double) — i.e. the SHORTEST decimal representation
    (Double.toString), not the exact binary expansion — with HALF_UP.
    Python's repr() is the same shortest round-trip decimal, so
    Decimal(repr(x)) + ROUND_HALF_UP reproduces it exactly (verified against
    F.round at .x5 boundaries in tests/test_sink_rounding.py, where both
    Python round() [HALF_EVEN] and Decimal(x) [exact-binary] differ)."""
    return float(
        Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )

# Raw sums/counts ride along with the rounded averages so any rollup
# (plots.metrics_rollup, grid summaries) can aggregate EXACTLY instead of
# docs-weighting rounded per-partition partials (VERDICT r2 #7).
METRICS_SCHEMA = (
    "chunk int, partition_id int, n_docs long, n_keep long, avg_ppl double, "
    "avg_words double, trip_short long, trip_symbol long, n_scrubbed long, "
    "ts_min timestamp_ntz, ts_max timestamp_ntz, "
    "ppl_sum double, ppl_n long, words_sum long, words_n long"
)
_METRICS_DDL = f"target int, {METRICS_SCHEMA}"
_METRICS_COLS = [f.split() for f in _METRICS_DDL.split(", ")]
# timestamps are the session's wall-clock time with the zone dropped, in
# the scored rows and the metrics alike
_PA_TYPES = {**PA_TYPES, "timestamp": pa.timestamp("us"), "timestamp_ntz": pa.timestamp("us")}
# the metrics files' schema: the sink's rows without `target`, plus the
# config_hash the driver adds
METRICS_PA = pa.schema(
    [(c, _PA_TYPES[t]) for c, t in _METRICS_COLS[1:]] + [("config_hash", pa.string())]
)
# the integer metrics, each a sum of per-row terms
_SUMS = ("n_docs", "n_keep", "trip_short", "trip_symbol", "n_scrubbed",
         "ppl_n", "words_sum", "words_n")

# stable on-disk schema for the scored rows (everything the JVM writer
# produced, minus the chunk partition column which lives in the dir name)
_OUT_COLS = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("text", "string"),
    ("lang", "string"),
    *SCORE_COLS,
    ("scrubbed", "boolean"),
    ("keep", "boolean"),
]


def _pa_schema():
    return pa.schema([(name, _PA_TYPES[t]) for name, t in _OUT_COLS])


def _keep_arrow(stats, cfg) -> np.ndarray:
    """The keep decision over the kernel's score columns (a pyarrow batch or
    table): stages.rules_pass_expr + decision, the same conjunct table over
    bit-identical inputs, so the same booleans. NULL scores (NULL text)
    compare False, so such a row is never kept."""
    col = {c: stats.column(c).to_numpy(zero_copy_only=False) for c, _, _ in RULE_CONJUNCTS}
    lang = stats.column("lang_pred")
    overrides = None
    if cfg.lang_profiles:
        langs = lang.to_pylist()
        overrides = {
            f: np.array([by_lang.get(x, fallback) for x in langs], dtype=np.float64)
            for f, (by_lang, fallback) in cfg.profile_thresholds().items()
        }
    allowed = pc.is_in(lang, value_set=pa.array(list(cfg.allowed_langs), pa.string()))
    return (
        keep_from(col, cfg, overrides)
        & (stats.column("ppl").to_numpy(zero_copy_only=False) <= cfg.max_ppl)
        & allowed.to_numpy(zero_copy_only=False)
    )


def _keep_series(s: pd.DataFrame, cfg) -> pd.Series:
    """pandas adapter of `_keep_arrow`."""
    cols = ["lang_pred", "ppl", *dict.fromkeys(c for c, _, _ in RULE_CONJUNCTS)]
    stats = pa.RecordBatch.from_pandas(s[cols], preserve_index=False)
    return pd.Series(_keep_arrow(stats, cfg), index=s.index)


def _make_writer(pq, path: str, schema):
    """Sink parquet writer."""
    # default zstd level 3 (pyarrow's own default is 1): measured on the
    # round-3 codec sweep as strictly faster at BOTH core counts
    # (133.4s/39.9s vs 151.3s/42.9s at 4M docs) — the extra compression
    # CPU parallelizes with cores while the saved output bytes relieve
    # shared memory/disk bandwidth. (Its 2->8 efficiency RATIO is not
    # better — 0.836 vs zstd1's same-campaign 0.881, since it helps the
    # low-core level more; the default optimizes wall at every level,
    # not the ratio. BASELINE.md round-3 section has the full table.)
    return pq.ParquetWriter(path, schema, compression="zstd", compression_level=3)


def qa_sink(scored_input: DataFrame, out_dirs: list[str], cfg) -> DataFrame:
    """Attach the sink to a scoped pages DataFrame (columns url, warc_ts,
    text, lang, chunk, targets): `targets` lists the indexes into `out_dirs`
    a row is written to, and `cfg` is the config every target shares apart
    from its scopes. Returns the (lazy) metrics DataFrame, one row per
    (target, chunk, partition) — running any action on it executes the
    whole write."""
    data_dirs = [os.path.join(d, "data") for d in out_dirs]
    # trip counters are diagnostics against the GLOBAL thresholds by
    # design (stable cross-run lineage even when lang_profiles vary the
    # actual gate); the keep decision itself honours the profiles
    min_words, max_symbol = cfg.min_words, cfg.max_symbol_ratio

    def sink(batches):
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid, attempt = tc.partitionId(), tc.taskAttemptId()
        schema = _pa_schema()
        # all keyed by (target, chunk)
        writers: dict[tuple[int, int], tuple] = {}
        pending: dict[tuple[int, int], list] = {}  # < ROW_GROUP_ROWS rows
        acc: dict[tuple[int, int], list] = {}  # [sums, ppl_sum, ts_min, ts_max]

        def flush(writer, parts: list, final: bool) -> list:
            """Write every full ROW_GROUP_ROWS group of the buffered batches
            (and, if final, the remainder); return what stays buffered."""
            n = sum(b.num_rows for b in parts)
            end = n if final else n - n % ROW_GROUP_ROWS
            if end == 0:
                return parts
            t = pa.Table.from_batches(parts, schema).combine_chunks()
            for off in range(0, end, ROW_GROUP_ROWS):
                writer.write_table(t.slice(off, ROW_GROUP_ROWS))
            return t.slice(end).to_batches() if end < n else []

        for batch in batches:
            if not batch.num_rows:
                continue
            # score each row once, whatever number of targets it feeds
            stats = _fused_arrow(batch.column("text"))
            keep = _keep_arrow(stats, cfg)
            # warc_ts arrives tz-aware, in the session time zone: keep the
            # session's wall-clock time, zone dropped
            ts = pc.local_timestamp(batch.column("warc_ts"))
            scrubbed = stats.column("scrub_delta").is_valid()
            out = pa.RecordBatch.from_arrays(
                [
                    batch.column("url"),
                    ts,
                    batch.column("text"),
                    batch.column("lang"),
                    *stats.columns,
                    scrubbed,
                    pa.array(keep),
                ],
                schema=schema,
            )

            # (target, chunk) groups: one stable sort of the (row, target)
            # pairs, so each group is a slice in scan order
            targets = batch.column("targets")
            row = np.repeat(np.arange(len(batch)), targets.value_lengths().to_numpy())
            tgt = targets.flatten().to_numpy()
            chunk = batch.column("chunk").to_numpy()[row]
            order = np.lexsort((chunk, tgt))
            row, tgt, chunk = row[order], tgt[order], chunk[order]
            cuts = np.flatnonzero((tgt[1:] != tgt[:-1]) | (chunk[1:] != chunk[:-1])) + 1
            starts = np.r_[0, cuts]
            out = out.take(pa.array(row))
            # per-row terms of _SUMS in the same order, summed per group
            # (NULL text has no ppl or n_words and is never kept)
            valid = stats.column("n_words").is_valid().to_numpy(zero_copy_only=False)[row]
            words = stats.column("n_words").fill_null(0).to_numpy()[row]
            sym = stats.column("symbol_ratio").to_numpy(zero_copy_only=False)[row]
            terms = [np.ones(len(row)), keep[row], (words < min_words) & valid,
                     sym > max_symbol, scrubbed.to_numpy(zero_copy_only=False)[row],
                     valid, words, valid]
            sums = np.add.reduceat(np.stack(terms).astype(np.int64), starts, axis=1)
            ppl = stats.column("ppl").to_numpy(zero_copy_only=False)[row]
            ts_r = ts.cast(pa.int64()).to_numpy()[row]  # scope_pred: never NULL
            ts_lo, ts_hi = np.minimum.reduceat(ts_r, starts), np.maximum.reduceat(ts_r, starts)

            for g, (lo, hi) in enumerate(zip(starts, [*cuts, len(row)])):
                key = (int(tgt[lo]), int(chunk[lo]))
                w = writers.get(key)
                if w is None:
                    cdir = os.path.join(data_dirs[key[0]], f"chunk={key[1]}")
                    os.makedirs(cdir, exist_ok=True)
                    # sweep tmp files abandoned by failed/killed prior
                    # attempts of THIS partition (a crashed task never
                    # reaches its os.replace; reruns must not accumulate
                    # hidden .tmp files on disk). Guard: only attempts with
                    # a STRICTLY LOWER attempt id — a concurrent
                    # speculative/zombie attempt with a higher id is live
                    # and must not have its open tmp unlinked mid-write
                    # (attempt ids are monotonically increasing)
                    import glob

                    for stale in glob.glob(
                        os.path.join(cdir, f".part-{pid:05d}-*.tmp")
                    ):
                        try:
                            stale_attempt = int(
                                stale.rsplit("-", 1)[1][: -len(".tmp")]
                            )
                        except ValueError:
                            continue
                        if stale_attempt >= attempt:
                            continue
                        try:
                            os.remove(stale)
                        except OSError as e:
                            log.debug("stale tmp %s not removed: %s", stale, e)
                    tmp = os.path.join(cdir, f".part-{pid:05d}-{attempt}.tmp")
                    final = os.path.join(cdir, f"part-{pid:05d}.parquet")
                    w = (_make_writer(pq, tmp, schema), tmp, final)
                    writers[key] = w
                    pending[key] = []
                    acc[key] = [0, 0.0, ts_lo[g], ts_hi[g]]
                pending[key].append(out.slice(lo, hi - lo))
                pending[key] = flush(w[0], pending[key], final=False)
                a = acc[key]
                a[0] += sums[:, g]
                a[1] += float(ppl[lo:hi][valid[lo:hi]].sum())
                a[2], a[3] = min(a[2], ts_lo[g]), max(a[3], ts_hi[g])

        rows = []
        for (t, ck), (w, tmp, final) in writers.items():
            flush(w, pending[t, ck], final=True)
            w.close()
            os.replace(tmp, final)  # atomic; task retry last-wins
            sums, ppl_sum, ts_min, ts_max = acc[t, ck]
            s = dict(zip(_SUMS, map(int, sums)))
            rows.append(
                {
                    "target": t,
                    "chunk": ck,
                    "partition_id": pid,
                    **s,
                    "avg_ppl": _round4_half_up(ppl_sum / s["ppl_n"]) if s["ppl_n"] else None,
                    "avg_words": _round4_half_up(s["words_sum"] / s["words_n"])
                    if s["words_n"]
                    else None,
                    "ts_min": int(ts_min),
                    "ts_max": int(ts_max),
                    "ppl_sum": ppl_sum,
                }
            )
        if rows:
            yield pa.RecordBatch.from_pylist(
                rows, schema=pa.schema([(c, _PA_TYPES[t]) for c, t in _METRICS_COLS])
            )

    return scored_input.mapInArrow(sink, _METRICS_DDL)
