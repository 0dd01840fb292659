"""Streaming sessionization with native session windows.

The batch twin (`queries/extras.py:sessionize`) is the classic
gaps-and-islands construction (lag + running sum). On a stream that
construction is unavailable (an unbounded per-user window over event
order), and the native answer is `F.session_window`: a watermarked,
stateful, MERGING window — Spark keeps one open session per (user,
window) in the state store, merges sessions when a late event bridges
two of them, and finalizes a session only when the watermark passes its
end (event-time gap semantics, not processing-time).

Semantics parity with the batch twin: session_window merges events with
microsecond-precise gap < `gap`; the batch lag-formulation compares
SECOND-TRUNCATED unix timestamps with <= 1800, so the two can disagree
for true gaps in [1800s, 1801s) (batch merges, stream splits). The
fixture corpus has no gaps in that band, so exact equality is asserted
in tests/test_session_stream.py; a deployment wanting bit-parity uses
1801s as the stream gap or un-truncated arithmetic in the batch query.

State/scale contract: state per user is O(open sessions), bounded by the
watermark horizon — closed sessions are emitted (append mode) and
evicted. A 10^12-event stream holds state only for users active within
the horizon, exactly the dropDuplicatesWithinWatermark discipline of
qa_stream.py.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..catalog import SCHEMAS

GAP = "30 minutes"  # matches the batch twin's 1800s gap
WATERMARK = "2 hours"


def sessionize_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    gap: str = GAP,
    watermark: str = WATERMARK,
):
    """Append finalized (user_id, sess_start, sess_end, n_events) rows to
    `{out_dir}/sessions`. Returns the StreamingQuery (availableNow).

    Append mode emits a session ONLY once the watermark passes its end —
    rerunning the query after more (later) events arrive flushes the
    remainder; the test exercises exactly that two-trigger pattern."""
    # a watermark needs TIMESTAMP: the declared `ts` is naive (NTZ), taken
    # as wall-clock time in the session time zone
    ev = (
        spark.readStream.schema(SCHEMAS["events"])
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        ev.filter(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("sess_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("sess_end"),
            "n_events",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", f"{out_dir}/sessions")
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
