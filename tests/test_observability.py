"""Structured run-log table (observability.py) — the logging.py analog."""

from __future__ import annotations

import json
from datetime import datetime

from german_newspaper_crawler_spark.observability import RunLogger, read_logs
from german_newspaper_crawler_spark.sources.store import SnapshotStore


def test_runlogger_flush_read_and_rotation(spark, tmp_path):
    store = SnapshotStore(str(tmp_path))
    log = RunLogger(store, "run-A", now=datetime(2026, 1, 2, 3))
    log.info("driver", "frontier_seeded")
    log.warning("round", "no_yield_round", round_no=2, n_fetched=5)
    assert log.flush(spark) == 2
    assert log.flush(spark) == 0  # buffer drained

    rows = read_logs(spark, store, run_id="run-A").collect()
    assert [r["event"] for r in rows] == ["frontier_seeded", "no_yield_round"]
    warn = read_logs(spark, store, run_id="run-A", level="WARNING").collect()
    assert len(warn) == 1
    assert warn[0]["round"] == 2
    assert json.loads(warn[0]["payload"]) == {"n_fetched": 5}

    # rotation analog (RotatingFileHandler backupCount, logging.py:78-80):
    # many flushes → expire old snapshots, latest window retained
    for i in range(6):
        log.info("round", "round_complete", round_no=i)
        log.flush(spark)
    removed = log.rotate(keep_last=1)
    assert removed == 6  # 7 live snapshots → newest kept
    assert store.read(spark, "logs").count() == 1  # old log data discarded
    assert read_logs(spark, store).first()["round"] == 5  # newest survives


def test_crawl_emits_structured_log(spark, tmp_path):
    from german_newspaper_crawler_spark.fixtures import make_fixtures
    from german_newspaper_crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from german_newspaper_crawler_spark.sources.fetch import table_fetcher

    seeds, pages, blobs, _ = make_fixtures(n_hosts=1, articles_per_host=3)
    seeds_df = spark.createDataFrame(
        [(s["domain"], s["base_url"], s["host"], s["collection"]) for s in seeds],
        ["domain", "base_url", "host", "collection"],
    )
    store = SnapshotStore(str(tmp_path / "s"))
    cfg = CrawlConfig(n_buckets=8, max_rounds=3, parsed_ts=datetime(2026, 1, 2),
                      extract_images=False)
    stats = run_crawl(spark, store, seeds_df, table_fetcher(pages, blobs),
                      cfg=cfg, run_id="run-X")
    events = [r["event"] for r in read_logs(spark, store, run_id="run-X").collect()]
    assert events[0] == "frontier_seeded"
    assert events.count("round_complete") == stats["rounds"]
    assert events[-1] == "run_complete"
    done = read_logs(spark, store).where("event = 'run_complete'").first()
    assert json.loads(done["payload"])["articles"] == stats["articles"]


def test_crawl_metrics_rows_carry_wall_ms_and_failed_count(spark, tmp_path):
    """Each round's ``metrics`` row has its driver wall time and, as
    ``n_failed``, the number of popped rows that round resolved to state
    'failed'. Exactly one fetch fails here: one article answers 500."""
    from pyspark.sql import functions as F

    from german_newspaper_crawler_spark.fixtures import make_fixtures
    from german_newspaper_crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from german_newspaper_crawler_spark.sources.fetch import table_fetcher

    seeds, pages, blobs, _ = make_fixtures(n_hosts=1, articles_per_host=3)
    failing = "https://h0-zeitung0.example/artikel/a1"
    ok = (200, "<html><body><p>Seite der die und.</p></body></html>")
    pages = {u: ok if st != 200 else (st, html) for u, (st, html) in pages.items()}
    pages[failing] = (500, "server error")
    seeds_df = spark.createDataFrame(
        [(s["domain"], s["base_url"], s["host"], s["collection"]) for s in seeds],
        ["domain", "base_url", "host", "collection"],
    )
    store = SnapshotStore(str(tmp_path / "s"))
    cfg = CrawlConfig(n_buckets=8, max_rounds=4, parsed_ts=datetime(2026, 1, 2),
                      extract_images=False)
    stats = run_crawl(spark, store, seeds_df, table_fetcher(pages, blobs), cfg=cfg)

    front = store.read(spark, "frontier")
    failed = {
        r["round"]: r["n"]
        for r in front.where(F.col("state") == "failed").groupBy("round")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert failed == {1: 1}
    assert front.where(F.col("state") == "failed").first()["url"] == failing

    rows = store.read(spark, "metrics").orderBy("round").collect()
    assert [r["round"] for r in rows] == list(range(stats["rounds"]))
    for r in rows:
        assert r["wall_ms"] is not None and r["wall_ms"] > 0
        assert r["n_failed"] == failed.get(r["round"], 0)
    assert [m["n_failed"] for m in stats["metrics"]] == [r["n_failed"] for r in rows]
