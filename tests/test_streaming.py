"""Structured Streaming formulations (SURVEY §2.9): exactly-once incremental
dedup across restarts (T1/T2/T3) and event-time windowed rollup."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType, StructField, StructType, TimestampType,
)

from german_newspaper_crawler_spark.streaming.incremental import (
    run_available_now, stream_pages_from_dir, streaming_dedup,
    streaming_hourly_rollup,
)

PAGE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("html", StringType()),
    ]
)


def _write_pages(spark, path, rows):
    spark.createDataFrame(rows, PAGE_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_streaming_dedup_across_restarts(spark, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_pages(spark, src, [("https://a.de/1", "t1", "<p>"), ("https://a.de/2", "t2", "<p>")])
    stream = streaming_dedup(stream_pages_from_dir(spark, src, PAGE_SCHEMA))
    run_available_now(stream, ckpt, out)
    assert spark.read.parquet(out).count() == 2

    # second micro-run: one duplicate url (same hash → dropped via state
    # store), one fresh — exactly the reference's incremental skip (T1)
    _write_pages(spark, src, [("https://a.de/1", "t1-changed", "<p>"), ("https://a.de/3", "t3", "<p>")])
    stream = streaming_dedup(stream_pages_from_dir(spark, src, PAGE_SCHEMA))
    run_available_now(stream, ckpt, out)
    got = spark.read.parquet(out)
    assert got.count() == 3
    urls = {r["url"] for r in got.select("url").collect()}
    assert urls == {"https://a.de/1", "https://a.de/2", "https://a.de/3"}


def test_streaming_hourly_rollup_matches_batch(spark, tmp_path):
    sf_dir = "/root/testdata/sf0.001"
    events = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    src = str(tmp_path / "ev")
    events.write.parquet(src)
    stream = streaming_hourly_rollup(
        spark.readStream.schema(events.schema).parquet(src), watermark="0 seconds"
    )
    out, ckpt = str(tmp_path / "evout"), str(tmp_path / "evckpt")
    run_available_now(stream, ckpt, out)
    got = spark.read.parquet(out)
    # append mode emits only windows CLOSED by the watermark: the window
    # containing max(ts) (and later) is correctly withheld until more data
    # advances the watermark — compare the closed prefix.
    max_ts = events.agg(F.max("ts")).first()[0]
    batch = (
        events.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .where(F.col("hour") + F.expr("INTERVAL 1 HOUR") <= F.lit(max_ts))
    )
    assert got.count() == batch.count()
    assert got.count() > 0
    diff = got.select("hour", "event_type", "n").subtract(
        batch.select("hour", "event_type", "n")
    )
    assert diff.count() == 0
