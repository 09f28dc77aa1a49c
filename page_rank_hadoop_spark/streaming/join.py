"""Stream-stream interval join: click→purchase attribution.

The reference is batch-only; this extends the streaming surface (SURVEY
§2.3) with the other major Structured Streaming stateful operator besides
windowed aggregation and sessionization: a watermarked stream-stream
INNER join with a time-range condition — the shape Spark documents for
ad-attribution (impressions ⋈ clicks within an horizon).

Semantics: every (click, purchase) pair for the same user where the
purchase lands in [click_ts, click_ts + horizon]. Both sides carry a
watermark and the join condition bounds event-time distance, so the state
store provably evicts: a click older than (watermark + horizon) can never
match a future purchase and is dropped. Without the time bound the state
would grow forever — that's the scale contract, identical on a
1000-executor Kafka deployment.

The batch twin (``click_purchase_join_batch``) states the same join on
the static events table; tests/test_windows_streaming.py replays the
events file through the streaming form (append-mode memory sink) and
asserts set-equality with the batch result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _sides(events: DataFrame, horizon_minutes: int):
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        )
    )
    return clicks, purchases, cond


_OUT_COLS = ["c_user", "click_id", "click_ts", "purchase_id", "purchase_ts", "purchase_value"]


def click_purchase_join_stream(
    events_stream: DataFrame, horizon_minutes: int = 30, watermark: str = "60 minutes"
) -> DataFrame:
    """Streaming form: both sides watermarked, inner join with the
    time-range condition. One stream filtered twice is a legal
    stream-stream self-join; state eviction follows from watermark +
    the purchase_ts upper bound on click age."""
    clicks, purchases, cond = _sides(events_stream, horizon_minutes)
    return (
        clicks.withWatermark("click_ts", watermark)
        .join(purchases.withWatermark("purchase_ts", watermark), cond, "inner")
        .select(*_OUT_COLS)
    )


def click_purchase_join_batch(events: DataFrame, horizon_minutes: int = 30) -> DataFrame:
    """Batch twin of the streaming join — same condition on the static
    table (the correctness oracle for the replay test)."""
    clicks, purchases, cond = _sides(events, horizon_minutes)
    return clicks.join(purchases, cond, "inner").select(*_OUT_COLS)


def run_join_replay_to_memory(
    spark: SparkSession,
    sf_dir: str,
    horizon_minutes: int = 30,
    query_name: str = "join_replay_out",
) -> DataFrame:
    """Replay events.parquet through the stream-stream join to completion
    (append mode — stream-stream inner joins emit exactly-once as the
    watermark passes) and return the collected result table."""
    import glob
    import os
    import shutil

    from page_rank_hadoop_spark.session import _scoped
    from page_rank_hadoop_spark.sources.catalog import normalize_ts
    from page_rank_hadoop_spark.streaming.replay import (
        NANOS_CONF,
        replay_to_memory,
        scratch_dir,
    )

    tmp = scratch_dir("events_join_replay_")
    for f in glob.glob(os.path.join(sf_dir, "events.parquet")):
        shutil.copy(f, tmp)

    try:
        with _scoped(spark, None, None, {NANOS_CONF: "true"}):
            raw_schema = spark.read.parquet(tmp).schema
        stream = normalize_ts(spark.readStream.schema(raw_schema).parquet(tmp))
        joined = click_purchase_join_stream(stream, horizon_minutes)
        return replay_to_memory(spark, joined, "append", query_name)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
