"""Write-audit sink: the whole QA pass as ONE Spark job.

`scan → scope filter → mapInPandas(sink)`, no shuffle: each sink task
scores one scan split in place. The sink computes the fused QA kernel
(functions/qa_fused.py), derives the keep/drop decision, streams the scored
rows into per-chunk parquet files with pyarrow — one set per target out_dir
a row belongs to, each row scored once — and returns ONLY the per-(target,
chunk, partition) metrics rows.

Why this shape (measured on this sandbox, reasoned for 1000 executors):
- `text` crosses the JVM→Python boundary exactly once and nothing
  row-sized crosses back — the job's collect() is a few metric rows per
  partition (the reference analogue: an extraction emits its artifact, not
  the grid — /root/reference/isimip_qa/mixins/extractions.py:42-62).
- The separate audit job (re-scan written output for metrics) and the
  committer's driver-side rename pass disappear; those were the remaining
  serial terms in the N→4N scaling measurement (BASELINE.md).
- Files are written atomically: tmp name per task attempt, os.replace on
  close; re-run of a failed task overwrites (last-wins), so the manifest
  written by the driver after the job commits is still the publish step —
  write-audit-publish with the manifest as the catalog (Iceberg-snapshot
  analogue, and the resume unit per north_rule).

Semantics contract: identical output values to the column-expression stages
(plans/stages.py STAGES, the test oracle) — enforced by the fused==unfused
tests and the keep-decision agreement test (tests/test_rule_table.py).
One caveat: a NULL `text` row gets keep=False here (pandas) where the
expression form yields keep=NULL; both count as "not kept" in every metric.
"""

from __future__ import annotations

import logging
import os
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.qa_fused import SCORE_COLS, _fused_series
from ..functions.textstats import keep_from

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
    "ts_min timestamp, ts_max timestamp, "
    "ppl_sum double, ppl_n long, words_sum long, words_n long"
)

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
    import pyarrow as pa

    m = {
        "string": pa.string(),
        "timestamp": pa.timestamp("us"),
        "double": pa.float64(),
        "long": pa.int64(),
        "boolean": pa.bool_(),
    }
    return pa.schema([(name, m[t]) for name, t in _OUT_COLS])


def _keep_series(s: pd.DataFrame, cfg) -> pd.Series:
    """pandas form of stages.rules_pass_expr + decision — the same conjunct
    table over bit-identical inputs, so the same booleans."""
    overrides = None
    if cfg.lang_profiles:
        overrides = {
            f: s["lang_pred"].map(by_lang).fillna(fallback).astype(float)
            for f, (by_lang, fallback) in cfg.profile_thresholds().items()
        }
    keep = (
        keep_from(s, cfg, overrides)
        & (s["ppl"] <= cfg.max_ppl)
        & s["lang_pred"].isin(list(cfg.allowed_langs))
    )
    return keep.fillna(False).astype(bool)


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
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid, attempt = tc.partitionId(), tc.taskAttemptId()
        schema = _pa_schema()
        # all keyed by (target, chunk)
        writers: dict[tuple[int, int], tuple] = {}
        pending: dict[tuple[int, int], list] = {}  # < ROW_GROUP_ROWS rows
        acc: dict[tuple[int, int], dict] = {}

        def flush(writer, tables: list, final: bool) -> list:
            """Write every full ROW_GROUP_ROWS group of the buffered tables
            (and, if final, the remainder); return what stays buffered."""
            n = sum(t.num_rows for t in tables)
            end = n if final else n - n % ROW_GROUP_ROWS
            if end == 0:
                return tables
            t = pa.concat_tables(tables).combine_chunks()
            for off in range(0, end, ROW_GROUP_ROWS):
                writer.write_table(t.slice(off, ROW_GROUP_ROWS))
            return [t.slice(end)] if end < n else []

        def groups(pdf, out):
            """(target, chunk) → its rows of `out`, each in scan order."""
            chunks = pdf["chunk"].to_numpy()
            lists = pdf["targets"].to_numpy()
            row = np.repeat(np.arange(len(pdf)), [len(x) for x in lists])
            tgt = np.concatenate(lists) if len(lists) else row
            for t in np.unique(tgt):
                rows = row[tgt == t]
                sub = out if len(rows) == len(out) else out.iloc[rows]
                for ck, g in sub.groupby(chunks[rows]):
                    yield (int(t), int(ck)), g

        for pdf in batches:
            # score each row once, whatever number of targets it feeds
            stats = _fused_series(pdf["text"])
            out = pdf[["url", "warc_ts", "text", "lang"]].reset_index(drop=True)
            for c in stats.columns:
                out[c] = stats[c]
            out["scrubbed"] = out["scrub_delta"].notna()
            out["keep"] = _keep_series(out, cfg)
            out["warc_ts"] = out["warc_ts"].astype("datetime64[us]")

            for key, g in groups(pdf, out):
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
                    acc[key] = {
                        "n_docs": 0, "n_keep": 0, "ppl_sum": 0.0, "ppl_n": 0,
                        "w_sum": 0, "w_n": 0, "trip_short": 0,
                        "trip_symbol": 0, "n_scrubbed": 0,
                        "ts_min": None, "ts_max": None,
                    }
                pending[key].append(
                    pa.Table.from_pandas(
                        g[[c for c, _ in _OUT_COLS]], schema=schema,
                        preserve_index=False,
                    )
                )
                pending[key] = flush(w[0], pending[key], final=False)
                a = acc[key]
                a["n_docs"] += len(g)
                a["n_keep"] += int(g["keep"].sum())
                ppl = g["ppl"].dropna()
                a["ppl_sum"] += float(ppl.sum())
                a["ppl_n"] += len(ppl)
                nwv = g["n_words"].dropna()
                a["w_sum"] += int(nwv.sum())
                a["w_n"] += len(nwv)
                a["trip_short"] += int((g["n_words"] < min_words).sum())
                a["trip_symbol"] += int((g["symbol_ratio"] > max_symbol).sum())
                a["n_scrubbed"] += int(g["scrubbed"].sum())
                lo, hi = g["warc_ts"].min(), g["warc_ts"].max()
                a["ts_min"] = lo if a["ts_min"] is None else min(a["ts_min"], lo)
                a["ts_max"] = hi if a["ts_max"] is None else max(a["ts_max"], hi)

        rows = []
        for (t, ck), (w, tmp, final) in writers.items():
            flush(w, pending[t, ck], final=True)
            w.close()
            os.replace(tmp, final)  # atomic; task retry last-wins
            a = acc[t, ck]
            rows.append(
                {
                    "target": t,
                    "chunk": ck,
                    "partition_id": pid,
                    "n_docs": a["n_docs"],
                    "n_keep": a["n_keep"],
                    "avg_ppl": _round4_half_up(a["ppl_sum"] / a["ppl_n"])
                    if a["ppl_n"]
                    else None,
                    "avg_words": _round4_half_up(a["w_sum"] / a["w_n"])
                    if a["w_n"]
                    else None,
                    "trip_short": a["trip_short"],
                    "trip_symbol": a["trip_symbol"],
                    "n_scrubbed": a["n_scrubbed"],
                    "ts_min": a["ts_min"],
                    "ts_max": a["ts_max"],
                    "ppl_sum": a["ppl_sum"],
                    "ppl_n": a["ppl_n"],
                    "words_sum": a["w_sum"],
                    "words_n": a["w_n"],
                }
            )
        if rows:
            yield pd.DataFrame(rows)

    return scored_input.mapInPandas(sink, f"target int, {METRICS_SCHEMA}")
