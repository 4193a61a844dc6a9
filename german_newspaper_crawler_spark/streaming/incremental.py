"""Structured Streaming formulations of the reference's implicit streaming
behaviors (SURVEY §2.9).

The reference is a periodically-run incremental batch job: each run consumes
"new since last run" via the persisted hash set (T1,
``scr/german_newspaper_crawler.py:66-74``). The engine's primary formulation
is batch-incremental over store snapshots (plans/crawl.py — resumable,
idempotent). This module provides the equivalent *streaming* formulations
for deployments that want a continuously-running pipeline:

* :func:`streaming_dedup` — ``dropDuplicates`` on the content identity with
  state-store persistence (T1/T4: re-crawled URL = same hash → dropped),
* :func:`streaming_hourly_rollup` — event-time tumbling window with a
  watermark for late data (the batch twin is the ``events_hourly_rollup``
  oracle query),
* :func:`stream_pages_from_dir` — file-source of page rows; with
  ``Trigger.AvailableNow`` this is exactly the reference's "run until
  caught up, then stop" cadence (T2) with checkpoint-based resume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from german_newspaper_crawler_spark.functions import hashing


def stream_pages_from_dir(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def streaming_dedup(pages: DataFrame) -> DataFrame:
    """Exact streaming dedup on the reference identity (§1.4): url-hash for
    http(s) rows, text/html-hash fallback; first row wins, duplicates are
    dropped from the stream (matches the skip path, web_requests.py:182-196).

    State: the content_hash set lives in the streaming state store — the
    streaming twin of the ``seen`` table. At 10^10 scale prefer RocksDB
    state store (spark.sql.streaming.stateStore.providerClass).
    """
    hashed = pages.withColumn(
        "content_hash", hashing.content_hash("url", "text", "html")
    )
    return hashed.dropDuplicates(["content_hash"])


def streaming_hourly_rollup(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Event-time tumbling rollup with late-data watermark. The reference has
    no event-time windows (SURVEY §2.9) — this is the graft's streaming
    metrics rollup (G7) in its idiomatic Structured Streaming form."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("hour"), "event_type", "n", "total_value"
        )
    )


def run_available_now(stream_df: DataFrame, checkpoint: str, out_dir: str) -> None:
    """Trigger.AvailableNow batch-catchup run (T2): process everything
    pending, commit the checkpoint, stop — the reference's manual-run
    cadence with exactly-once file sink semantics."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
