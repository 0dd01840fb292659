"""Streaming twin of the bucketized range join
(`queries/extras.py:range_join_errors`): same-user purchase × error pairs
within ±300 s, as a watermarked STREAM-STREAM inner join.

Batch gets the scale-correct plan by bucketizing the time axis into an
equi-join; on a stream the native answer is Spark's stream-stream join
with an event-time range condition — each side is watermarked, the join
condition bounds how far apart matching events can be, and the state
store keeps only rows inside `watermark + window` of the global
watermark. Inner joins emit a pair the moment both sides have arrived
(no held-back output — the watermark only drives state EVICTION), so a
single availableNow pass over a static fixture emits every match.

State/scale contract: per-side state is O(events within the last
watermark + 300 s horizon), never the whole stream — the same bounded-
state discipline as qa_stream's dropDuplicatesWithinWatermark. The time-
range condition must reference the two watermarked event-time columns
directly (Spark derives the eviction bound from it); gap_s is computed
AFTER the join with the same truncating unix-seconds arithmetic as the
batch twin, so emissions compare exactly."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..catalog import SCHEMAS
from ..queries.extras import RANGE_W_S  # the batch twin's half-window

WATERMARK = "1 hour"


def range_join_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    w_s: int = RANGE_W_S,
    watermark: str = WATERMARK,
):
    """Append (purchase_event, error_event, user_id, gap_s) rows to
    `{out_dir}/pairs`. Returns the StreamingQuery (availableNow)."""
    # null event-time rows must not reach the join state store: the
    # eviction predicate is NULL for them, so they would never be evicted
    # (session_stream.py applies the same guard for the same reason). A
    # watermark needs TIMESTAMP: the declared `ts` is naive (NTZ), taken as
    # wall-clock time in the session time zone.
    left = (
        spark.readStream.schema(SCHEMAS["events"])
        .parquet(src_dir)
        .filter(F.col("ts").isNotNull())
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event"),
            F.col("user_id").alias("l_user"),
            F.col("ts").cast("timestamp").alias("lts"),
        )
        .withWatermark("lts", watermark)
    )
    right = (
        spark.readStream.schema(SCHEMAS["events"])
        .parquet(src_dir)
        .filter(F.col("ts").isNotNull())
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_event"),
            F.col("user_id").alias("r_user"),
            F.col("ts").cast("timestamp").alias("rts"),
        )
        .withWatermark("rts", watermark)
    )
    # the time-range condition (microsecond-precise, on the watermarked
    # columns — Spark derives state eviction from it) is widened by 1 s;
    # the exact keep decision is the post-join filter on the TRUNCATED
    # second gap, the batch twin's arithmetic — so emissions compare
    # exactly even for pairs whose true Δt sits in the (w_s, w_s+1)
    # truncation band
    joined = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (
            F.col("rts")
            >= F.col("lts") - F.expr(f"INTERVAL {w_s + 1} SECONDS")
        )
        & (
            F.col("rts")
            <= F.col("lts") + F.expr(f"INTERVAL {w_s + 1} SECONDS")
        ),
        "inner",
    )
    out = joined.select(
        "purchase_event",
        "error_event",
        F.col("l_user").alias("user_id"),
        (F.unix_timestamp("lts") - F.unix_timestamp("rts")).alias("gap_s"),
    ).filter(F.abs(F.col("gap_s")) <= w_s)
    return (
        out.writeStream.format("parquet")
        .option("path", f"{out_dir}/pairs")
        .option("checkpointLocation", f"{out_dir}/_chk")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
