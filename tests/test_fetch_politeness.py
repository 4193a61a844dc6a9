"""Fetch-stage politeness (G3) + robots (G2) + bloom-accelerated skip parity."""

from __future__ import annotations

import time
from datetime import datetime

import pandas as pd
import pytest

from german_newspaper_crawler_spark.sources.fetch import fetch_pandas_batch


def _batch(urls_hosts, rules):
    """A fetch batch with each host's ``(disallow, allow, delay_ms)`` rule as
    the ``__robots_*`` columns ``operators.robots.attach_robots`` joins on."""
    hosts = [h for u, h in urls_hosts]
    return pd.DataFrame(
        {
            "url": [u for u, h in urls_hosts],
            "host": hosts,
            "priority": [0] * len(urls_hosts),
            "seq": list(range(len(urls_hosts))),
            "__robots_dis": [rules[h][0] for h in hosts],
            "__robots_allow": [rules[h][1] for h in hosts],
            "__robots_delay": [rules[h][2] for h in hosts],
        }
    )


def test_crawl_delay_enforced_per_host():
    """Consecutive fetches to the same host are >= crawl_delay apart; other
    hosts are not delayed (reference analog: strictly sequential loop = one
    in-flight request, web_requests.py:127)."""
    stamps: dict[str, list[float]] = {}

    def fetcher(url):
        stamps.setdefault(url.split("/")[2], []).append(time.monotonic())
        return 200, "<p>x</p>", None

    pdf = _batch(
        [(f"https://slow.example/a{i}", "slow.example") for i in range(3)]
        + [(f"https://fast.example/b{i}", "fast.example") for i in range(3)],
        {"slow.example": ([], [], 120), "fast.example": ([], [], 0)},
    )
    out = fetch_pandas_batch(pdf, fetcher, respect_delay=True, last_fetch={})
    assert (out["status"] == 200).all()
    slow = stamps["slow.example"]
    gaps = [b - a for a, b in zip(slow, slow[1:])]
    assert all(g >= 0.115 for g in gaps), gaps
    fast = stamps["fast.example"]
    assert max(fast) - min(fast) < 0.1  # no delay for the zero-delay host


def test_robots_disallow_blocks_without_fetch():
    calls = []

    def fetcher(url):
        calls.append(url)
        return 200, "ok", None

    pdf = _batch(
        [("https://h.example/intern/secret", "h.example"),
         ("https://h.example/public/a", "h.example")],
        {"h.example": (["/intern/"], [], 0)},
    )
    out = fetch_pandas_batch(
        pdf, fetcher, respect_delay=False, last_fetch={}
    ).set_index("url")
    assert out.loc["https://h.example/intern/secret", "status"] == -403
    assert out.loc["https://h.example/public/a", "status"] == 200
    assert calls == ["https://h.example/public/a"]  # blocked row never fetched


def test_crawl_with_bloom_matches_exact(spark, tmp_path):
    """G1: bloom-accelerated seen-skip produces the identical article set as
    the exact-only path (filter accelerates, never decides)."""
    import hashlib

    from german_newspaper_crawler_spark import schemas
    from german_newspaper_crawler_spark.fixtures import make_fixtures
    from german_newspaper_crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from german_newspaper_crawler_spark.sources.fetch import table_fetcher
    from german_newspaper_crawler_spark.sources.store import SnapshotStore

    seeds, pages, blobs, truth = make_fixtures(n_hosts=1, articles_per_host=6)
    seeds_df = spark.createDataFrame(
        [(s["domain"], s["base_url"], s["host"], s["collection"]) for s in seeds],
        ["domain", "base_url", "host", "collection"],
    )
    pre = [(hashlib.sha256(f"https://{seeds[0]['host']}/artikel/a1".encode()).hexdigest(),
            "pre", datetime(2025, 1, 1))]

    results = {}
    for use_bloom in (False, True):
        store = SnapshotStore(str(tmp_path / f"s{use_bloom}"))
        store.append("seen", spark.createDataFrame(pre, schemas.SEEN))
        cfg = CrawlConfig(
            n_buckets=8, max_rounds=3, parsed_ts=datetime(2026, 1, 2),
            extract_images=False, use_bloom=use_bloom,
        )
        run_crawl(spark, store, seeds_df, table_fetcher(pages, blobs), cfg=cfg)
        results[use_bloom] = {
            (r["url"], r["content_hash"])
            for r in store.read(spark, "articles").select("url", "content_hash").collect()
        }
    assert results[True] == results[False]
    assert len(results[True]) > 0


def test_bloom_composes_with_strict_scope(spark):
    """G1 × U2: the Bloom prefilter is global ("provably absent anywhere" ⇒
    absent in every scope), so bloom-accelerated strict-scoped
    skip_known_text equals the exact strict-scoped result."""
    import hashlib

    from german_newspaper_crawler_spark import schemas
    from german_newspaper_crawler_spark.operators.bloom import (
        build_bloom, params_for, seen_bucket,
    )
    from german_newspaper_crawler_spark.plans.crawl import skip_known_text

    sha = lambda s: hashlib.sha256(s.encode()).hexdigest()  # noqa: E731
    # the text hash is what seen holds; every 10th row has none (never
    # skipped, and it probes the bloom as the null sentinel)
    arts = spark.createDataFrame(
        [
            (sha(f"u{i}"), sha(f"t{i}") if i % 10 else None, f"d{i % 2}")
            for i in range(60)
        ],
        "url string, text_content_hash string, domain string",
    )
    # seen: d0 knows hashes 0..19, d1 knows 10..29 → strict scope matters
    seen = spark.createDataFrame(
        [(sha(f"t{i}"), "d0", None) for i in range(20)]
        + [(sha(f"t{i}"), "d1", None) for i in range(10, 30)],
        schemas.SEEN,
    )
    m, k = params_for(100, 0.01)
    blooms = build_bloom(seen, "content_hash", seen_bucket("content_hash"), m, k)

    def kept(**kw):
        return {r["url"] for r in skip_known_text(arts, seen, **kw).collect()}

    exact = kept(scope_col="domain")
    accel = kept(blooms=blooms, scope_col="domain")
    assert accel == exact
    # and the strict result differs from global (scope genuinely engaged)
    global_ = kept()
    assert exact != global_


def test_split_skip_equals_skip_known(spark):
    """prefilter_known_urls (pre-fetch, url-hash) ∘ skip_known_text
    (post-fetch, text-hash) must keep EXACTLY the reference's three-variant
    skip set (web_requests.py:182-193: content_hash OR url_hash OR text
    hash known) — including the corner cases: http url-hash hit (pre),
    text-hash hit on an http row (post), non-http row whose sha256(url)
    happens to be seen but whose text is fresh (must NOT be skipped — the
    rule never probes url-hash for non-http), and plain fresh rows."""
    import hashlib

    from german_newspaper_crawler_spark.plans.crawl import (
        prefilter_known_urls, skip_known_text,
    )

    sha = lambda s: hashlib.sha256(s.encode()).hexdigest()  # noqa: E731

    def art(url, text):
        is_http = url.startswith(("http://", "https://"))
        url_hash = sha(url) if is_http else None
        text_hash = sha(text) if text else None
        return (url, url_hash if is_http else text_hash, url_hash, text_hash)

    rows = [
        art("https://h0/known-url", "fresh text a"),      # pre-skip
        art("https://h0/fresh-url", "known text"),        # post-skip
        art("https://h0/fresh-2", "fresh text b"),        # survives
        art("ftp://h0/odd", "known text"),                # post-skip (non-http)
        art("ftp://h0/odd-2", "fresh text c"),            # survives; its
        # sha256(url) is planted in seen below — must still survive
        art("https://h1/both-known", "known text"),       # pre- AND post-hit
    ]
    arts = spark.createDataFrame(
        rows, ["url", "content_hash", "url_hash", "text_content_hash"]
    )
    seen = spark.createDataFrame(
        [(sha("https://h0/known-url"),), (sha("known text"),),
         (sha("ftp://h0/odd-2"),), (sha("https://h1/both-known"),)],
        ["content_hash"],
    )
    # the seen probes join without a build-side distinct: a seen table
    # holding every hash more than once must skip exactly the same rows
    seen_dup = seen.unionAll(seen).unionAll(seen.limit(2))

    for s in (seen, seen_dup):
        fresh_batch, skipped = prefilter_known_urls(arts, s)
        fresh_rows = fresh_batch.collect()
        got = {r["url"] for r in skip_known_text(fresh_batch, s).collect()}
        assert got == {"https://h0/fresh-2", "ftp://h0/odd-2"}
        skipped_urls = [r["url"] for r in skipped.collect()]
        assert sorted(skipped_urls) == ["https://h0/known-url", "https://h1/both-known"]
        # each batch row lands in exactly one of the two outputs, once
        assert sorted([r["url"] for r in fresh_rows] + skipped_urls) == sorted(
            r[0] for r in rows
        )
        assert fresh_batch.columns == arts.columns


def test_prefetch_skip_never_fetches_known_urls(spark, tmp_path):
    """A popped url whose url-hash is already in seen must NOT reach the
    fetcher (the 10^10 refresh-crawl economy) and its frontier row must end
    in state 'skipped'. Fetch calls are counted via marker files (closure
    state does not come back from workers)."""
    import os

    from german_newspaper_crawler_spark import schemas
    from german_newspaper_crawler_spark.functions.hashing import sha256_hex
    from german_newspaper_crawler_spark.plans.crawl import (
        CrawlConfig, run_crawl,
    )
    from german_newspaper_crawler_spark.sources.store import SnapshotStore
    from german_newspaper_crawler_spark.fixtures import make_fixtures
    from german_newspaper_crawler_spark.sources.fetch import table_fetcher
    from pyspark.sql import functions as F

    seeds, pages, blobs, truth = make_fixtures(n_hosts=1, articles_per_host=4)
    marker_dir = str(tmp_path / "fetches")
    os.makedirs(marker_dir, exist_ok=True)
    base = table_fetcher(pages, blobs)

    def counting_fetcher(url):
        import hashlib as _h
        with open(os.path.join(marker_dir, _h.sha256(url.encode()).hexdigest()), "w"):
            pass
        return base(url)

    store = SnapshotStore(str(tmp_path / "store"))
    seeds_df = spark.createDataFrame(seeds)
    from datetime import datetime as dt
    cfg = CrawlConfig(parsed_ts=dt(2024, 3, 1, 12, 0, 0))
    run_crawl(spark, store, seeds_df, counting_fetcher, cfg=cfg)

    # pick one fetched article url; clear markers; re-run a fresh crawl
    # against the SAME store (seen persists) with reseeded listings. Here
    # refill_from_anchors' seen anti-join already drops the known urls
    # BEFORE they re-enter the frontier — the first line of defense.
    art_urls = [r["url"] for r in store.read(spark, "articles").select("url").collect()]
    for f in os.listdir(marker_dir):
        os.remove(os.path.join(marker_dir, f))
    cfg2 = CrawlConfig(parsed_ts=dt(2024, 3, 2, 12, 0, 0), reseed_listings=True)
    run_crawl(spark, store, seeds_df, counting_fetcher, cfg=cfg2)

    import hashlib as _h
    fetched_second = set(os.listdir(marker_dir))
    for u in art_urls:
        assert _h.sha256(u.encode()).hexdigest() not in fetched_second, u
    states = {
        r["url"]: r["state"]
        for r in store.read(spark, "frontier").select("url", "state").collect()
    }
    assert all(states[u] != "pending" for u in art_urls)

    # second line of defense — the crash-resume window where a url IS
    # pending in the frontier AND already in seen (state transition lost,
    # seen commit survived): prefilter_known_urls must resolve it to
    # 'skipped' without a fetch
    from german_newspaper_crawler_spark.operators.frontier import bucket_of
    replay = (
        store.read(spark, "frontier")
        .where(F.col("url").isin(art_urls[:2]))
        .withColumn("state", F.lit("pending"))
        .withColumn("round", F.lit(0))
    )
    store.merge_delta("frontier", replay, keys=["url"])
    for f in os.listdir(marker_dir):
        os.remove(os.path.join(marker_dir, f))
    cfg3 = CrawlConfig(parsed_ts=dt(2024, 3, 3, 12, 0, 0))
    run_crawl(spark, store, seeds_df, counting_fetcher, cfg=cfg3)

    fetched_third = set(os.listdir(marker_dir))
    states = {
        r["url"]: r["state"]
        for r in store.read(spark, "frontier").select("url", "state").collect()
    }
    for u in art_urls[:2]:
        assert _h.sha256(u.encode()).hexdigest() not in fetched_third, u
        assert states[u] == "skipped", (u, states[u])
