"""End-to-end crawl parity vs the reference-semantics simulator.

Golden = tests/reference_sim.simulate_crawl (the sequential model of
/root/reference's main loop); subject = the distributed Spark pipeline with
the same fixtures and an injected dict-backed fetcher. Asserts:

* identical fetch/upsert ORDER (ids 1..n in the simulator's order),
* identical URL-seen set (union semantics; U2 quirk documented in SURVEY §1.4),
* identical extracted fields per row (teaser/autor/category/published/text/
  pos_taggs/parsed_date),
* idempotent re-run (second crawl adds zero rows),
* pre-seeded seen-set skip paths (url-hash AND anchor-text-hash variants),
* image invariants: caption equality + decoded-pixel PSNR >= 40 dB + exact
  pHash dup suppression (BASELINE.json input_hint).
"""

from __future__ import annotations

import hashlib
from datetime import datetime

import numpy as np
import pytest

from german_newspaper_crawler_spark.fixtures import make_fixtures
from german_newspaper_crawler_spark.plans.crawl import CrawlConfig, run_crawl
from german_newspaper_crawler_spark.sources.fetch import table_fetcher
from german_newspaper_crawler_spark.sources.store import SnapshotStore
from tests.reference_sim import simulate_crawl

PARSED_TS = datetime(2026, 1, 2, 3, 4, 5)


def sha256(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


@pytest.fixture(scope="module")
def fixture_data():
    return make_fixtures(n_hosts=2, articles_per_host=6, figs_per_article=2)


@pytest.fixture(scope="module")
def crawl_result(spark, fixture_data, tmp_path_factory):
    seeds, pages, blobs, truth = fixture_data
    store = SnapshotStore(str(tmp_path_factory.mktemp("crawlstore")))
    seeds_df = spark.createDataFrame(
        [(s["domain"], s["base_url"], s["host"], s["collection"]) for s in seeds],
        ["domain", "base_url", "host", "collection"],
    )
    cfg = CrawlConfig(n_buckets=8, max_rounds=4, parsed_ts=PARSED_TS)
    stats = run_crawl(
        spark, store, seeds_df, table_fetcher(pages, blobs), cfg=cfg
    )
    return store, stats, cfg, seeds_df


def test_crawl_matches_reference_simulator(spark, fixture_data, crawl_result):
    seeds, pages, blobs, truth = fixture_data
    store, stats, cfg, _ = crawl_result
    golden, golden_known, fetch_order = simulate_crawl(seeds, pages, parsed_ts=PARSED_TS)

    arts = (
        store.read(spark, "articles")
        .toPandas()
        .sort_values("_id")
        .reset_index(drop=True)
    )
    assert len(arts) == len(golden)
    # exact crawl/upsert order
    assert list(arts["url"]) == [r["url"] for r in golden]
    assert list(arts["_id"]) == [r["_id"] for r in golden]
    # field-level parity
    import zlib

    for i, g in enumerate(golden):
        row = arts.iloc[i]
        for f in ["teaser", "autor", "category", "text", "content_hash"]:
            assert row[f] == g[f], (g["url"], f, row[f], g[f])
        # html stored zlib-compressed; logical content must match exactly
        assert zlib.decompress(bytes(row["html_gz"])).decode("utf-8") == g["html"], g["url"]
        import pandas as pd

        gp = g["published_date"]
        rp = row["published_date"]
        assert (pd.isna(rp) and gp is None) or (
            not pd.isna(rp) and gp is not None and rp.to_pydatetime() == gp
        ), (g["url"], rp, gp)
        assert pd.isna(row["parsed_date"]) == (g["parsed_date"] is None)
        tags = row["pos_taggs"] if row["pos_taggs"] is not None else []
        got_tags = [(t["tid"], t["token"]) for t in tags]
        assert got_tags == [(t[0], t[1]) for t in g["pos_taggs"]], g["url"]
    # seen set (union semantics across collections)
    seen = {
        r["content_hash"]
        for r in store.read(spark, "seen").select("content_hash").collect()
    }
    assert seen == {r["content_hash"] for r in golden if r["content_hash"]}


def test_idempotent_rerun(spark, fixture_data, crawl_result):
    seeds, pages, blobs, truth = fixture_data
    store, stats, cfg, seeds_df = crawl_result
    n_before = store.read(spark, "articles").count()
    stats2 = run_crawl(spark, store, seeds_df, table_fetcher(pages, blobs), cfg=cfg)
    assert stats2["articles"] == 0
    assert store.read(spark, "articles").count() == n_before


def test_preseeded_seen_skips(spark, tmp_path):
    """URL-hash and anchor-text-hash skip variants (taz.py:220-241).

    Single-domain fixture: with >1 domain the reference's U2 refresh-replace
    quirk (scr:112-113) DISCARDS pre-seeded hashes after the first domain;
    the engine deliberately keeps the persistent union seen-set instead
    (SURVEY §1.4 decision), so parity for the skip paths is defined on the
    reference's actual single-domain configuration (config.yaml:13-17).
    """
    from datetime import datetime as dt

    seeds, pages, blobs, truth = make_fixtures(
        n_hosts=1, articles_per_host=6, figs_per_article=2
    )
    host0 = seeds[0]["host"]
    pre = {
        sha256(f"https://{host0}/artikel/a1"),  # url-hash skip
        sha256("Beitrag 2"),  # anchor-text-hash skip (a2's anchor text)
    }
    golden, _, _ = simulate_crawl(seeds, pages, known_hashes=set(pre), parsed_ts=PARSED_TS)
    golden_urls = {r["url"] for r in golden}
    assert f"https://{host0}/artikel/a1" not in golden_urls
    assert f"https://{host0}/artikel/a2" not in golden_urls

    store = SnapshotStore(str(tmp_path / "store2"))
    import german_newspaper_crawler_spark.schemas as schemas

    seeds_df = spark.createDataFrame(
        [(s["domain"], s["base_url"], s["host"], s["collection"]) for s in seeds],
        ["domain", "base_url", "host", "collection"],
    )
    store.append(
        "seen",
        spark.createDataFrame(
            [(h, "pre", dt(2025, 1, 1)) for h in pre], schemas.SEEN
        ),
    )
    cfg = CrawlConfig(n_buckets=8, max_rounds=4, parsed_ts=PARSED_TS, extract_images=False)
    run_crawl(spark, store, seeds_df, table_fetcher(pages, blobs), cfg=cfg)
    spark_urls = {
        r["url"] for r in store.read(spark, "articles").select("url").collect()
    }
    assert spark_urls == golden_urls


def test_image_invariants(spark, fixture_data, crawl_result):
    """input_hint per-row invariant: caption equality + PSNR >= 40 dB; exact
    pHash duplicates suppressed."""
    from german_newspaper_crawler_spark.functions.codec import decode_image, psnr
    from german_newspaper_crawler_spark.functions.phash import phash64
    from german_newspaper_crawler_spark.plans.crawl import PHASH_MAX_HAMMING

    seeds, pages, blobs, truth = fixture_data
    store, stats, cfg, _ = crawl_result
    imgs = store.read(spark, "images").toPandas()
    assert len(imgs) > 0
    # phash uniqueness (exact-dup suppression)
    assert imgs["phash"].nunique() == len(imgs)
    # blobs of the deliberately-failed article (a5, status 500) are never
    # discovered; everything else is either accepted or a pHash near-dup
    # (hamming <= PHASH_MAX_HAMMING) of an accepted image — the G6
    # suppression the fixture plants deliberately (img/2_1 jpeg re-encode of
    # img/0_0, img/4_1 noise variant; both within hamming 2)
    reachable = {u: b for u, b in blobs.items() if "/img/5_" not in u}
    reach_ph = {u: phash64(decode_image(b)) for u, b in reachable.items()}
    accepted = list(imgs["phash"])
    t_ham = PHASH_MAX_HAMMING
    # accepted set is pairwise separated (earlier-neighbor rule invariant)
    for i, pa in enumerate(accepted):
        for pb in accepted[i + 1:]:
            assert bin(pa ^ pb).count("1") > t_ham, (pa, pb)
    # coverage: every reachable image is represented within the radius
    for u, p in reach_ph.items():
        assert any(bin(p ^ q).count("1") <= t_ham for q in accepted), u
    # the planted cluster {0_0, 2_1, 4_1} keeps exactly one member → 2 fewer
    # rows than the distinct-phash count
    assert len(imgs) == len(set(reach_ph.values())) - 2
    for row in imgs.itertuples(index=False):
        t = truth[row.image_id]
        assert row.caption == t["caption"], row.image_id
        rgb = decode_image(bytes(row.bytes))
        assert rgb.shape == (row.h, row.w, 3)
        p = psnr(t["rgb"], rgb)
        assert p == float("inf") or p >= 40.0, (row.image_id, p)
        assert row.fmt == t["fmt"]


def test_resume_from_checkpoint(spark, fixture_data, tmp_path):
    """T2/G7: stop after the listing round, resume in a new run — final state
    identical to an uninterrupted crawl (Iceberg-snapshot-style resume)."""
    seeds, pages, blobs, truth = fixture_data
    seeds_df = spark.createDataFrame(
        [(s["domain"], s["base_url"], s["host"], s["collection"]) for s in seeds],
        ["domain", "base_url", "host", "collection"],
    )
    store = SnapshotStore(str(tmp_path / "store3"))
    cfg1 = CrawlConfig(n_buckets=8, max_rounds=1, parsed_ts=PARSED_TS)
    run_crawl(spark, store, seeds_df, table_fetcher(pages, blobs), cfg=cfg1)
    assert not store.exists("articles")  # only listings fetched so far
    cfg2 = CrawlConfig(n_buckets=8, max_rounds=4, parsed_ts=PARSED_TS)
    run_crawl(spark, store, seeds_df, table_fetcher(pages, blobs), cfg=cfg2)
    golden, _, _ = simulate_crawl(seeds, pages, parsed_ts=PARSED_TS)
    arts = store.read(spark, "articles").toPandas().sort_values("_id")
    assert list(arts["url"]) == [r["url"] for r in golden]


def test_skipped_first_instance_second_survives(spark, tmp_path):
    """Ordering subtlety (taz.py:217-247): when a URL's FIRST anchor instance
    is skipped by the anchor-text-hash, a later instance with different text
    survives and the URL is crawled at the LATER instance's ladder position.
    Both the simulator and the engine must place it after the other rank-0
    URLs' positions accordingly."""
    from datetime import datetime as dt

    from german_newspaper_crawler_spark import schemas
    from german_newspaper_crawler_spark.sources.fetch import table_fetcher
    from tests.reference_sim import simulate_crawl

    host = "edge.example"
    listing = (
        '<a class="teaser-link" href="/artikel/x">Gesperrter Text</a>'
        '<a class="teaser-link" href="/artikel/y">Anderer</a>'
        '<a href="/artikel/x">Zweite Chance</a>'
    )
    pages = {
        f"https://{host}/": (200, f"<html><body>{listing}</body></html>"),
        f"https://{host}/artikel/x": (200, "<p>X Inhalt der die.</p>"),
        f"https://{host}/artikel/y": (200, "<p>Y Inhalt und das.</p>"),
    }
    seeds = [{"domain": "d0", "base_url": f"https://{host}/", "host": host, "collection": "c"}]
    pre = {sha256("Gesperrter Text")}

    golden, _, order = simulate_crawl(seeds, pages, known_hashes=set(pre), parsed_ts=PARSED_TS)
    # reference: /artikel/x skipped at rank 0 (text hash), re-appears at
    # rank 4 instance → crawled AFTER /artikel/y
    assert order == [f"https://{host}/artikel/y", f"https://{host}/artikel/x"]

    store = SnapshotStore(str(tmp_path / "edge"))
    store.append(
        "seen",
        spark.createDataFrame([(h, "pre", dt(2025, 1, 1)) for h in pre], schemas.SEEN),
    )
    seeds_df = spark.createDataFrame(
        [(s["domain"], s["base_url"], s["host"], s["collection"]) for s in seeds],
        ["domain", "base_url", "host", "collection"],
    )
    cfg = CrawlConfig(n_buckets=4, max_rounds=3, parsed_ts=PARSED_TS, extract_images=False)
    run_crawl(spark, store, seeds_df, table_fetcher(pages, {}), cfg=cfg)
    arts = store.read(spark, "articles").orderBy("_id").collect()
    assert [r["url"] for r in arts] == order
    assert [r["_id"] for r in arts] == [1, 2]


def test_strict_refresh_replace_scopes_seen_to_domain(spark, tmp_path):
    """U2 strict mode (web_requests.py:222-229 + scr:112-113): a hash known
    under one collection/domain does NOT skip another domain's article —
    cross-domain duplicates are re-processed like the reference. Default
    (global union seen) skips them (documented deviation, SURVEY §1.4)."""
    from datetime import datetime as dt

    import german_newspaper_crawler_spark.schemas as schemas

    seeds, pages, blobs, _ = make_fixtures(n_hosts=2, articles_per_host=4)
    target = f"https://{seeds[1]['host']}/artikel/a1"
    seeds_df = spark.createDataFrame(
        [(s["domain"], s["base_url"], s["host"], s["collection"]) for s in seeds],
        ["domain", "base_url", "host", "collection"],
    )
    results = {}
    for strict in (False, True):
        store = SnapshotStore(str(tmp_path / f"strict{strict}"))
        # pre-seed d1's article hash under d0's collection scope
        store.append(
            "seen",
            spark.createDataFrame(
                [(sha256(target), seeds[0]["domain"], dt(2025, 1, 1))], schemas.SEEN
            ),
        )
        cfg = CrawlConfig(
            n_buckets=8, max_rounds=3, parsed_ts=PARSED_TS, extract_images=False,
            strict_refresh_replace=strict,
        )
        run_crawl(spark, store, seeds_df, table_fetcher(pages, blobs), cfg=cfg)
        results[strict] = {
            r["url"] for r in store.read(spark, "articles").select("url").collect()
        }
    assert target not in results[False]  # global seen: skipped
    assert target in results[True]  # strict per-domain scope: re-processed
    # everything else identical between modes
    assert results[True] - {target} == results[False]


def test_frontier_writes_are_batch_sized_deltas(spark, tmp_path):
    """VERDICT r1 #2: per-round frontier persistence writes the popped
    batch's state transitions + refill appends — never a full rewrite."""
    import os

    seeds, pages, blobs, _ = make_fixtures(n_hosts=2, articles_per_host=5)
    seeds_df = spark.createDataFrame(
        [(s["domain"], s["base_url"], s["host"], s["collection"]) for s in seeds],
        ["domain", "base_url", "host", "collection"],
    )
    store = SnapshotStore(str(tmp_path / "wv"))
    cfg = CrawlConfig(
        n_buckets=8, max_rounds=4, parsed_ts=PARSED_TS, extract_images=True,
        compact_every=0,  # keep every delta visible for inspection
    )
    run_crawl(spark, store, seeds_df, table_fetcher(pages, blobs), cfg=cfg)

    m = store._read_manifest("frontier")
    ops = [s["op"] for s in m["snapshots"]]
    assert "overwrite" not in ops and "merge" not in ops  # no full rewrites
    assert ops.count("merge-delta") >= 2  # one state-transition delta per round

    total = store.read(spark, "frontier").count()
    tdir = os.path.join(str(tmp_path / "wv"), "frontier")
    # every delta commit is strictly smaller than the final frontier, and the
    # sum of ALL commit volumes ≈ total + transitions (each url written at
    # most twice: once discovered, once transitioned) — not rounds × total
    delta_rows = [
        spark.read.parquet(os.path.join(tdir, s["dir"])).count()
        for s in m["snapshots"] if s["op"] == "merge-delta"
    ]
    assert all(d < total for d in delta_rows)
    all_rows = [
        spark.read.parquet(os.path.join(tdir, s["dir"])).count()
        for s in m["snapshots"]
    ]
    assert sum(all_rows) <= 2 * total


def test_full_feature_matrix_crawl_matches_plain(spark, tmp_path):
    """Cross-feature integration: robots table (merge-delta) + persistent
    incremental Bloom + mapInPandas tagger stage + per-round frontier
    compaction + resume across two run_crawl invocations — the article and
    image sets must be IDENTICAL to a plain featureless single run (the
    accelerators and persistence strategies must never change results)."""
    from german_newspaper_crawler_spark.operators.enrichment import WhitespaceTagger

    seeds, pages, blobs, _ = make_fixtures(n_hosts=2, articles_per_host=5)
    for s in seeds:
        pages[f"https://{s['host']}/robots.txt"] = (200, "User-agent: *\nDisallow: /intern/")
    seeds_df = spark.createDataFrame(
        [(s["domain"], s["base_url"], s["host"], s["collection"]) for s in seeds],
        ["domain", "base_url", "host", "collection"],
    )

    def result_of(store):
        arts = {
            (r["url"], r["content_hash"], r["titel"],
             tuple((t["tid"], t["token"]) for t in r["pos_taggs"]))
            for r in store.read(spark, "articles").collect()
        }
        imgs = {r["phash"] for r in store.read(spark, "images").collect()}
        return arts, imgs

    plain_store = SnapshotStore(str(tmp_path / "plain"))
    run_crawl(
        spark, plain_store, seeds_df, table_fetcher(pages, blobs),
        cfg=CrawlConfig(n_buckets=8, max_rounds=4, parsed_ts=PARSED_TS),
    )
    plain = result_of(plain_store)

    full_store = SnapshotStore(str(tmp_path / "full"))
    cfg_full = CrawlConfig(
        n_buckets=8, max_rounds=2, parsed_ts=PARSED_TS,
        use_robots_table=True, use_bloom=True,
        compact_every=1, tagger=WhitespaceTagger(), fetch_concurrency=4,
    )
    run_crawl(spark, full_store, seeds_df, table_fetcher(pages, blobs), cfg=cfg_full)
    # resume in a FRESH store handle (checkpoint semantics), finish the crawl
    cfg_more = CrawlConfig(**{**cfg_full.__dict__, "max_rounds": 4})
    run_crawl(
        spark, SnapshotStore(str(tmp_path / "full")), seeds_df,
        table_fetcher(pages, blobs), cfg=cfg_more, run_id="run-1",
    )
    assert result_of(full_store) == plain
    # the feature tables really engaged
    assert full_store.exists("robots") and full_store.exists("blooms")
    ops = [s["op"] for s in full_store._read_manifest("frontier")["snapshots"]]
    assert "merge-delta" in ops and "compact" in ops and "overwrite" not in ops


def test_phash_near_dup_suppressed_across_rounds(spark, tmp_path):
    """G6 in the crawl (VERDICT r2 #4 / north_star): an image re-crawled in a
    LATER RUN under a new URL whose pHash is within hamming <= t of an image
    accepted in an earlier run is suppressed via the persistent seen_phash
    side table — the pHash generalization of the reference's cross-run
    MongoDB hash skip (web_requests.py:182-193)."""
    from german_newspaper_crawler_spark.fixtures import make_image
    from german_newspaper_crawler_spark.functions.codec import (
        decode_image, encode_image,
    )
    from german_newspaper_crawler_spark.functions.phash import phash64

    seeds, pages, blobs, _ = make_fixtures(
        n_hosts=1, articles_per_host=3, figs_per_article=1
    )
    seeds_df = spark.createDataFrame(
        [(s["domain"], s["base_url"], s["host"], s["collection"]) for s in seeds],
        ["domain", "base_url", "host", "collection"],
    )
    store = SnapshotStore(str(tmp_path / "store"))
    cfg = CrawlConfig(n_buckets=8, max_rounds=6, parsed_ts=PARSED_TS)
    run_crawl(spark, store, seeds_df, table_fetcher(pages, blobs), cfg=cfg)
    first = {r["phash"] for r in store.read(spark, "images").collect()}
    assert first and store.exists("seen_phash")

    # second run: one NEW article page carrying a noise-perturbed re-encode
    # of the first accepted image (hamming <= 4, not equal) plus one
    # genuinely new image — only the latter may land
    host = seeds[0]["host"]
    src_url = next(u for u in sorted(blobs) if "/img/0_0" in u)
    base_rgb = decode_image(blobs[src_url])
    base_ph = phash64(base_rgb)
    near_rgb = None
    for amp in range(4, 64, 2):  # escalate until the pHash moves 1..4 bits
        rng = np.random.default_rng(7 + amp)
        cand = np.clip(
            base_rgb.astype(np.int16) + rng.integers(-amp, amp + 1, base_rgb.shape),
            0, 255,
        ).astype(np.uint8)
        if 0 < bin(phash64(cand) ^ base_ph).count("1") <= 4:
            near_rgb = cand
            break
    assert near_rgb is not None, "could not synthesize a near-dup fixture"
    fresh_rgb = make_image(987654)
    pages[f"https://{host}/"] = (
        200,
        '<html><body><a class="teaser-link" href="/artikel/neu1">Neu eins</a>'
        "</body></html>",
    )
    pages[f"https://{host}/artikel/neu1"] = (
        200,
        "<html><body><h1>Neu</h1><p>Inhalt neu und mehr davon.</p>"
        '<figure><img src="/img/neu_a.png"><figcaption>Wieder da</figcaption></figure>'
        '<figure><img src="/img/neu_b.png"><figcaption>Wirklich neu</figcaption></figure>'
        "</body></html>",
    )
    blobs[f"https://{host}/img/neu_a.png"] = encode_image(near_rgb, "png")
    blobs[f"https://{host}/img/neu_b.png"] = encode_image(fresh_rgb, "png")
    cfg2 = CrawlConfig(
        n_buckets=8, max_rounds=6, parsed_ts=PARSED_TS, reseed_listings=True
    )
    run_crawl(
        spark, SnapshotStore(str(tmp_path / "store")), seeds_df,
        table_fetcher(pages, blobs), cfg=cfg2, run_id="run-2",
    )
    after = {
        r["caption"]: r["phash"] for r in store.read(spark, "images").collect()
    }
    assert "Wirklich neu" in after
    assert "Wieder da" not in after  # near-dup suppressed across runs
    assert len(after) == len(first) + 1


def test_crawl_e2e_oracle_literals_current(fixture_data):
    """Drift guard: the literal oracle inlined on crawl_fixture_e2e
    (plans/queries.py) must equal the reference simulator's replay of the
    same fixture — regenerate the VALUES block with this recipe whenever
    fixtures or crawl ordering semantics change."""
    import re

    from german_newspaper_crawler_spark.plans.queries import REGISTRY

    seeds, pages, blobs, truth = fixture_data
    golden, _, _ = simulate_crawl(seeds, pages, parsed_ts=datetime(2026, 1, 2))

    oracle = REGISTRY["crawl_fixture_e2e"].oracle
    rows = re.findall(r"\(CAST\((\d+) AS BIGINT\), (.*?)\)(?:,\n|\n)", oracle)
    assert len(rows) == len(golden)

    def parse(cells: str) -> list[str | None]:
        out = []
        for m in re.finditer(r"'((?:[^']|'')*)'|CAST\(NULL AS VARCHAR\)", cells):
            out.append(None if m.group(1) is None else m.group(1).replace("''", "'"))
        return out

    for (oid, cells), g in zip(rows, golden):
        assert int(oid) == g["_id"]
        vals = parse(cells)
        assert vals == [
            g["url"], g["teaser"], g["autor"], g["category"],
            g["content_hash"], g["domain"],
        ], (g["_id"], vals)


def _authority_fixture():
    """Two domains; a.example's listing links two cold.example articles then
    two hub.example articles; b.example's listing links two more hub.example
    articles. Observed host graph: a→cold, a→hub, b→hub — hub has twice
    cold's in-links and must outrank it."""
    listings = {
        "a.example": (
            '<a class="teaser-link" href="http://cold.example/c1">Kalt 1</a>'
            '<a class="teaser-link" href="http://cold.example/c2">Kalt 2</a>'
            '<a class="teaser-link" href="http://hub.example/a1">Hub A1</a>'
            '<a class="teaser-link" href="http://hub.example/a2">Hub A2</a>'
        ),
        "b.example": (
            '<a class="teaser-link" href="http://hub.example/b1">Hub B1</a>'
            '<a class="teaser-link" href="http://hub.example/b2">Hub B2</a>'
        ),
    }
    pages = {}
    for host, body in listings.items():
        pages[f"https://{host}/"] = (200, f"<html><body>{body}</body></html>")
    for u in ("c1", "c2"):
        pages[f"http://cold.example/{u}"] = (200, f"<p>Kalter Inhalt {u} der die.</p>")
    for u in ("a1", "a2", "b1", "b2"):
        pages[f"http://hub.example/{u}"] = (200, f"<p>Hub Inhalt {u} und das.</p>")
    seeds = [
        {"domain": "da", "base_url": "https://a.example/", "host": "a.example",
         "collection": "ca"},
        {"domain": "db", "base_url": "https://b.example/", "host": "b.example",
         "collection": "cb"},
    ]
    return seeds, pages


def _run_budgeted(spark, tmp_path, name, authority_priority):
    seeds, pages = _authority_fixture()
    store = SnapshotStore(str(tmp_path / name))
    seeds_df = spark.createDataFrame(
        [(s["domain"], s["base_url"], s["host"], s["collection"]) for s in seeds],
        ["domain", "base_url", "host", "collection"],
    )
    cfg = CrawlConfig(
        n_buckets=4, max_rounds=2, parsed_ts=PARSED_TS, extract_images=False,
        round_budget=2, authority_priority=authority_priority,
    )
    run_crawl(spark, store, seeds_df, table_fetcher(pages, {}), cfg=cfg)
    fetched = sorted(
        r["url"]
        for r in store.read(spark, "frontier")
        .where("state = 'fetched' and kind = 'article'")
        .collect()
    )
    return store, fetched


def test_authority_priority_shifts_budget_toward_high_pagerank_hosts(
    spark, tmp_path
):
    """VERDICT-r4 #2: with authority_priority on and a per-round budget, the
    round-1 article budget goes ENTIRELY to the high-PageRank host (hub has
    2 in-linking domains, cold has 1), where the flag-off pop (selector
    rank, seq) splits it across hosts. Ordering stays deterministic: a
    repeat run pops the identical set."""
    store, with_auth = _run_budgeted(spark, tmp_path, "auth", True)
    # budget 2, order (priority=0, auth_bucket, seq, url):
    # hub rows (bucket low) fill the whole budget, seq-first within hub
    assert with_auth == ["http://hub.example/b1", "http://hub.example/b2"]

    # the observed host graph ranked hub above cold
    ranks = {
        r["host"]: (r["rank"], r["auth_bucket"])
        for r in store.read(spark, "host_rank").collect()
    }
    assert ranks["hub.example"][0] > ranks["cold.example"][0]
    assert ranks["hub.example"][1] < ranks["cold.example"][1]

    # flag-off control: same budget splits across hosts by (priority, seq,
    # url) — one cold + one hub (the two seq-0 anchors)
    _, plain = _run_budgeted(spark, tmp_path, "plain", False)
    assert plain == ["http://cold.example/c1", "http://hub.example/b1"]

    # determinism: identical rerun → identical pop set
    _, again = _run_budgeted(spark, tmp_path, "auth2", True)
    assert again == with_auth
