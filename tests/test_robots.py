"""G2 robots table: parsing, TTL refresh (join path), enforcement through
the crawl."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from german_newspaper_crawler_spark.operators.robots import (
    attach_robots, parse_robots_txt, refresh_robots_df, robots_blocked,
)
from german_newspaper_crawler_spark.sources.store import SnapshotStore

# the fetch stage's output in these tests: each row's url and fetch status
STATUS = StructType(
    [StructField("url", StringType()), StructField("status", IntegerType())]
)

TXT = """
# comment
User-agent: evilbot
Disallow: /

User-agent: *
Disallow: /intern/
Disallow: /tmp/
Crawl-delay: 1.5

User-agent: otherbot
Disallow: /x/
"""


def test_parse_robots_txt():
    dis, alw, delay = parse_robots_txt(TXT)
    assert dis == ["/intern/", "/tmp/"]
    assert alw == []
    assert delay == 1500
    assert parse_robots_txt("") == ([], [], 0)
    # allow-all: empty Disallow value is ignored
    assert parse_robots_txt("User-agent: *\nDisallow:") == ([], [], 0)


def test_parse_robots_allow_and_longest_prefix():
    txt = "User-agent: *\nDisallow: /a/\nAllow: /a/public/\n"
    dis, alw, _ = parse_robots_txt(txt)
    assert robots_blocked("/a/secret", dis, alw)
    assert not robots_blocked("/a/public/x", dis, alw)  # longer Allow wins
    assert not robots_blocked("/b/x", dis, alw)
    # tie → allow wins
    assert not robots_blocked("/c/", ["/c/"], ["/c/"])


def test_parse_robots_specific_user_agent_group():
    txt = (
        "User-agent: *\nDisallow: /all/\n\n"
        "User-agent: newsbot\nDisallow: /nb/\nCrawl-delay: 2\n"
    )
    # generic UA gets the * group
    assert parse_robots_txt(txt) == (["/all/"], [], 0)
    # a matching specific group supersedes the * group entirely
    assert parse_robots_txt(txt, "NewsBot/1.0") == (["/nb/"], [], 2000)
    # non-matching specific UA falls back to *
    assert parse_robots_txt(txt, "otherbot") == (["/all/"], [], 0)


def _rules_of(df):
    return {
        r["host"]: (list(r["disallow_prefixes"]), list(r["allow_prefixes"]),
                    r["crawl_delay_ms"])
        for r in df.collect()
    }


def test_refresh_robots_df_ttl_and_cache(spark, tmp_path):
    # the robots fetch leg runs in Spark python workers, so call counting
    # goes through the filesystem, not a driver-side closure list
    calldir = tmp_path / "calls"
    calldir.mkdir()

    def fetcher(url, _calldir=str(calldir)):
        import os
        import uuid

        host = url.split("/")[2]
        open(os.path.join(_calldir, f"{host}-{uuid.uuid4().hex}"), "w").close()
        if "h1" in url:
            return 200, "User-agent: *\nDisallow: /private/\nCrawl-delay: 2", None
        return 404, "", None

    def calls(host):
        return len(list(calldir.glob(f"{host}-*")))

    store = SnapshotStore(str(tmp_path))
    hosts = spark.createDataFrame([("h1.example",), ("h2.example",)], ["host"])
    t1 = datetime(2026, 1, 1, 0, 0, 0)
    got = _rules_of(refresh_robots_df(spark, store, hosts, fetcher, now=t1))
    assert got["h1.example"] == (["/private/"], [], 2000)
    assert got["h2.example"] == ([], [], 0)  # 404 → allow-all
    assert calls("h1.example") == 1 and calls("h2.example") == 1

    # h1 within success TTL: cache hit; h2 was a FAILED fetch → short retry
    # TTL (1h default) → refetched even though 12h < 24h
    t2 = datetime(2026, 1, 1, 12, 0, 0)
    got2 = _rules_of(
        refresh_robots_df(spark, store, hosts, fetcher, now=t2, ttl_hours=24)
    )
    assert got2["h1.example"] == (["/private/"], [], 2000)
    assert calls("h1.example") == 1
    assert calls("h2.example") == 2

    # past success TTL: h1 refetched too
    t3 = datetime(2026, 1, 3, 0, 0, 0)
    refresh_robots_df(spark, store, hosts, fetcher, now=t3, ttl_hours=24)
    assert calls("h1.example") == 2

    # robots persistence went through merge_delta: per-commit write volume is
    # the refreshed hosts only, and read resolves one live row per host
    tbl = store.read(spark, "robots")
    assert tbl.count() == 2


@pytest.mark.parametrize("concurrency", [1, 4])
def test_attach_robots_enforced_in_fetch_stage(spark, concurrency):
    """Rules arriving as broadcast-joined columns block disallowed rows
    before any fetch — the scale path end to end, sequential or
    host-parallel."""
    from german_newspaper_crawler_spark.sources.fetch import fetch_stage

    calls = []

    def fetcher(url):
        calls.append(url)
        return 200, "ok", None

    batch = spark.createDataFrame(
        [
            ("https://h.example/intern/s", "h.example", 0, 0, 0, "article", "d", "b", ""),
            ("https://h.example/pub/a", "h.example", 0, 0, 1, "article", "d", "b", ""),
            ("https://open.example/x", "open.example", 1, 0, 2, "article", "d", "b", ""),
        ],
        ["url", "host", "bucket", "priority", "seq", "kind", "domain",
         "base_url", "anchor_text"],
    )
    rules = spark.createDataFrame(
        [("h.example", ["/intern/"], [], 0)],
        "host string, disallow_prefixes array<string>, "
        "allow_prefixes array<string>, crawl_delay_ms int",
    )
    out = {
        r["url"]: r["status"]
        # one partition: both hosts share a batch, so concurrency 4 takes the
        # host-parallel path
        for r in fetch_stage(
            attach_robots(batch, rules), fetcher, STATUS,
            lambda f: list(zip(f["url"], f["status"])),
            n_partitions=1, concurrency=concurrency,
        ).collect()
    }
    assert out["https://h.example/intern/s"] == -403
    assert out["https://h.example/pub/a"] == 200
    assert out["https://open.example/x"] == 200  # no rules row → allow-all
    assert "https://h.example/intern/s" not in calls


def test_crawl_uses_robots_table(spark, tmp_path):
    """use_robots_table: the dossier page is disallowed via a robots.txt
    fixture → blocked in the frontier, never upserted."""
    from german_newspaper_crawler_spark.fixtures import make_fixtures
    from german_newspaper_crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from german_newspaper_crawler_spark.sources.fetch import table_fetcher
    from german_newspaper_crawler_spark.sources.store import SnapshotStore
    from pyspark.sql import functions as F

    seeds, pages, blobs, _ = make_fixtures(n_hosts=1, articles_per_host=4)
    host = seeds[0]["host"]
    pages[f"https://{host}/robots.txt"] = (200, "User-agent: *\nDisallow: /dossier/")
    store = SnapshotStore(str(tmp_path / "s"))
    seeds_df = spark.createDataFrame(
        [(s["domain"], s["base_url"], s["host"], s["collection"]) for s in seeds],
        ["domain", "base_url", "host", "collection"],
    )
    cfg = CrawlConfig(
        n_buckets=8, max_rounds=3, parsed_ts=datetime(2026, 1, 2),
        extract_images=False, use_robots_table=True,
    )
    run_crawl(spark, store, seeds_df, table_fetcher(pages, blobs), cfg=cfg)
    urls = {r["url"] for r in store.read(spark, "articles").select("url").collect()}
    assert not any("/dossier/" in u for u in urls)
    assert any("/artikel/" in u for u in urls)
    fr = store.read(spark, "frontier")
    blocked = {r["url"] for r in fr.where(F.col("state") == "blocked").collect()}
    assert any("/dossier/" in u for u in blocked)
    assert store.exists("robots")


def test_robots_wildcard_and_anchor_rules():
    """Google-spec pattern matching: * wildcards, $ end-anchors, longest
    pattern wins, tie → allow."""
    # * wildcard
    assert robots_blocked("/a/x/download.pdf", ["/a/*.pdf"], [])
    assert not robots_blocked("/a/x/download.pdfx", ["/a/*.pdf$"], [])
    assert robots_blocked("/a/x/download.pdf", ["/a/*.pdf$"], [])
    # $ anchor: exact-path-only rule
    assert robots_blocked("/private", ["/private$"], [])
    assert not robots_blocked("/private/page", ["/private$"], [])
    # wildcard Allow overrides shorter Disallow (longest pattern wins)
    assert not robots_blocked("/shop/item?print=1", ["/shop/"], ["/shop/*print=1"])
    assert robots_blocked("/shop/item", ["/shop/"], ["/shop/*print=1"])
    # multiple wildcards
    assert robots_blocked("/x/1/y/2/z", ["/x/*/y/*/z"], [])
    assert not robots_blocked("/x/1/z", ["/x/*/y/*/z"], [])


def test_attach_robots_crawl_delay_enforced(spark, tmp_path):
    """The broadcast-joined rules path also carries Crawl-delay: per-host
    gaps are enforced inside the fetch stage."""
    import json

    from german_newspaper_crawler_spark.sources.fetch import fetch_stage

    stampdir = tmp_path / "stamps"
    stampdir.mkdir()

    def fetcher(url, _d=str(stampdir)):
        import os
        import time
        import uuid

        host = url.split("/")[2]
        with open(os.path.join(_d, f"{host}-{uuid.uuid4().hex}"), "w") as f:
            f.write(json.dumps(time.monotonic()))
        return 200, "<p>x</p>", None

    batch = spark.createDataFrame(
        [(f"https://slow.example/a{i}", "slow.example", 0, 0, i, "article",
          "d", "b", "") for i in range(3)],
        ["url", "host", "bucket", "priority", "seq", "kind", "domain",
         "base_url", "anchor_text"],
    )
    rules = spark.createDataFrame(
        [("slow.example", [], [], 150)],
        "host string, disallow_prefixes array<string>, "
        "allow_prefixes array<string>, crawl_delay_ms int",
    )
    out = fetch_stage(
        attach_robots(batch, rules), fetcher, STATUS,
        lambda f: list(zip(f["url"], f["status"])), respect_delay=True,
    ).collect()
    assert all(r["status"] == 200 for r in out)
    stamps = sorted(
        json.loads(open(p).read()) for p in stampdir.glob("slow.example-*")
    )
    gaps = [b - a for a, b in zip(stamps, stamps[1:])]
    assert len(gaps) == 2 and all(g >= 0.14 for g in gaps), gaps
