"""The crawl pipeline — frontier-pop → fetch → parse → dedup → merge loop.

Spark re-expression of the reference's ``main()`` (SURVEY §3.1): one Spark
job per crawl round, rounds looped on the driver until the frontier is empty
or budget exhausted. The reference's sequential per-URL loop
(``lib/common/web_requests.py:127-220``) becomes per-stage DataFrames; its
ordering guarantees are carried as ``(domain, priority, seq)`` columns; its
in-memory hash set becomes the ``seen`` table + anti-joins.

Stage map (reference → here):
  build_article_urls / TAZ.fetch_article_urls  → fetch_parse_listings_stage
  fetch_url loop                               → fused into the parse stages
  parse_article (taz.py:302-365)               → fetch_parse_articles_stage
  hash skip (web_requests.py:182-193)          → seen anti-joins (J1)
  pos_tag_object (pos_tagging.py:169-227)      → enrich_pos_tags (SQL) or
                                                 operators.enrichment.enrich_stage
  upsert_article (mongodb.py:83-157)           → store.merge_delta on content_hash
  known_hashes.add (web_requests.py:218-219)   → store.append('seen', ...)
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from datetime import datetime
from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, IntegerType, LongType, StringType,
    StructField, StructType, TimestampType,
)

from german_newspaper_crawler_spark import schemas
from german_newspaper_crawler_spark.functions import hashing
from german_newspaper_crawler_spark.functions.urls import href_valid, urljoin_udf
from german_newspaper_crawler_spark.operators import frontier as FR
from german_newspaper_crawler_spark.operators.enrichment import (
    MAX_POS_TAG_ENTRIES, MAX_POS_TAG_TOKENS, enrich_stage,
)
from german_newspaper_crawler_spark.sources.fetch import Fetcher, fetch_stage
from german_newspaper_crawler_spark.sources.store import SnapshotStore


# G6 in the crawl: suppress fetched images whose pHash is within this hamming
# radius of any previously ACCEPTED image (persistent seen_phash side table)
# or of an earlier image in the same batch — the distributed generalization
# of the reference's post-fetch exact-hash skip (web_requests.py:182-193)
PHASH_MAX_HAMMING = 4
# G2: a host's robots rules are re-fetched once they are this old
ROBOTS_TTL_HOURS = 24
# after each compaction, expire unreferenced snapshot dirs beyond this
# time-travel window (Iceberg expire_snapshots cadence)
EXPIRE_KEEP_LAST = 20
# run-log retention (reference logging.retentions_day analog): the logs
# table is rotated down to this many snapshots at run end
LOG_KEEP_SNAPSHOTS = 500
# G4+ authority_priority: host_rank is refreshed every this many rounds,
# with this many PageRank iterations
AUTHORITY_REFRESH_EVERY = 2
AUTHORITY_ITERATIONS = 3


@dataclass
class CrawlConfig:
    n_buckets: int = 64
    per_host_budget: int | None = None  # None = reference semantics (drain)
    max_rounds: int = 4
    respect_delay: bool = False
    parsed_ts: datetime | None = None  # injected clock (F10 determinism)
    extract_images: bool = True
    # per-partition cross-host fetch concurrency (reference library path
    # max_workers=8, parallel_fetcher.py:45); politeness stays per-host
    fetch_concurrency: int = 1
    # G2: maintain the robots table (TTL cache) per round and enforce its
    # rules; robots.txt fetched through the same fetcher. Off: every host is
    # fetched unrestricted, as the reference does
    use_robots_table: bool = False
    # G1 accelerator: Bloom-prefilter the seen-set checks (exact anti-join
    # remains the authority). Pays off when the seen set is huge relative to
    # the per-round batch (the 10^10 regime); off by default at fixture scale.
    use_bloom: bool = False
    # fold accumulated frontier merge-deltas back into one base file set
    # every N rounds (Iceberg rewrite_data_files cadence); keeps the
    # merge-on-read delta chain short without per-round full rewrites
    compact_every: int = 8
    # T2 recurring-crawl semantics: re-enqueue the seed listing pages even
    # when a frontier already exists (the reference is re-run on a schedule
    # and always starts from the config seeds, scr:76). Article/image rows
    # discovered from the re-fetched listings still pass through the seen /
    # seen_phash anti-joins, so only genuinely new content lands. Off by
    # default: a resumed SAME-run crawl must not re-fetch finished listings.
    reseed_listings: bool = False
    # U2 strict reference parity: scope the seen anti-join to the current
    # collection/domain only, reproducing web_requests.py:222-229 where
    # known_hashes is REPLACED by the refreshed single-collection set after
    # each domain — so multi-domain runs re-process cross-domain duplicates
    # exactly like the reference. Default keeps the documented deviation
    # (global union seen-set; SURVEY §1.4).
    strict_refresh_replace: bool = False
    # G4+: link-authority frontier priority (VERDICT-r4 #2 — PageRank's own
    # motivation: at 10^10 URLs link authority decides which hosts deserve
    # fetch budget; the reference's priority is selector rank only,
    # taz.py:188-206). When on, a host_rank table is refreshed from the
    # OBSERVED host graph every AUTHORITY_REFRESH_EVERY rounds (write via
    # merge_delta ∝ ranked hosts) and pop order becomes (selector rank,
    # pagerank bucket, seq) — which shifts budget toward high-authority
    # hosts whenever round_budget caps the per-round batch. Off by default:
    # the flag-off pop is bit-identical to reference parity (o4 oracle).
    authority_priority: bool = False
    # global cap on rows popped per round (None = uncapped). Exact top-k by
    # the pop order via TakeOrderedAndProject — with authority_priority this
    # is the lever that reallocates fetch budget across hosts.
    round_budget: int | None = None
    # X4 spaCy-shaped enrichment: a Tagger object (operators/enrichment.py)
    # routes articles through the mapInPandas enrich_stage (per-worker model
    # cache, chunk packing, mutation-aware hash recompute). None keeps the
    # pure-SQL whitespace path (JVM-side, identical result — the fast
    # default; enrich_stage(WhitespaceTagger()) ≡ enrich_pos_tags, asserted
    # in tests/test_enrichment.py).
    tagger: object | None = None


# --- listing parse (P3 flatmap: 1 listing row → N anchor rows) ---------------

_ANCHOR_SCHEMA = StructType(
    [
        StructField("page_url", StringType()),
        StructField("domain", StringType()),
        StructField("base_url", StringType()),
        StructField("href", StringType()),
        StructField("anchor_text", StringType()),
        StructField("sel_rank", IntegerType()),  # -1 = per-page status marker row
        StructField("doc_pos", LongType()),
        StructField("status", IntegerType()),
    ]
)


def refill_from_anchors(
    anchors: DataFrame, seen: DataFrame, round_no: int, cfg: CrawlConfig,
    scope_col: str | None = None,
) -> DataFrame:
    """Anchor rows → new pending frontier rows, reproducing the reference's
    link-collection skip order (taz.py:210-247):

    1. validity filter (P1) on the *stripped* href,
    2. absolutize via plain urljoin (F5 — no canonicalization, so the
       seen-set digests match the reference bit-for-bit),
    3. per-instance known-hash skip: url-hash OR (non-empty) anchor-text-hash
       against ``seen`` — anti-joins J1,
    4. first-occurrence dedup by (sel_rank, doc_pos) (W2),
    """
    cand = (
        anchors.withColumn("href", F.trim("href"))
        .where(href_valid("href"))
        .withColumn("abs_url", urljoin_udf(F.col("base_url"), F.col("href")))
        .withColumn("url_hash", hashing.sha256_hex("abs_url"))
        .withColumn(
            "text_hash",
            F.when(
                F.col("anchor_text") != "", F.sha2(F.trim("anchor_text"), 256)
            ),
        )
    )
    for hcol in ("url_hash", "text_hash"):
        cand = _seen_join(cand, hcol, seen, "left_anti", scope_col)
    deduped = FR.first_occurrence_dedup(cand)
    return FR.anchors_to_frontier(deduped, round_no, cfg.n_buckets, kind="article")


# --- article parse (P4/P5/G5) -------------------------------------------------

_FIG = StructType([StructField("src", StringType()), StructField("caption", StringType())])
_ARTICLE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("host", StringType()),
        StructField("domain", StringType()),
        StructField("base_url", StringType()),
        StructField("priority", IntegerType()),
        StructField("seq", LongType()),
        StructField("status", IntegerType()),
        StructField("titel", StringType()),
        StructField("teaser", StringType()),
        StructField("autor", StringType()),
        StructField("category", StringType()),
        StructField("published_date", TimestampType()),
        # html is stored zlib-compressed: raw page html is the fattest column
        # (10-100 KB/row) and at 100 TB scale it must not stream uncompressed
        # through Arrow/shuffle/storage. Logical html = zlib.decompress
        # (utf-8). Identity hashes are computed python-side over the RAW
        # strings (hashing.identity_hashes), so the digests still match the
        # reference exactly.
        StructField("html_gz", BinaryType()),
        StructField("text", StringType()),
        StructField("figures", ArrayType(_FIG)),
        StructField("content_hash", StringType()),
        StructField("url_hash", StringType()),
        StructField("text_content_hash", StringType()),
        StructField("is_pdf_like", BooleanType()),
    ]
)


def fetch_parse_articles_stage(
    batch: DataFrame,
    fetcher,
    respect_delay: bool = False,
    n_partitions: int | None = None,
    concurrency: int = 1,
) -> DataFrame:
    """Fused fetch+parse for article rows — ONE mapInPandas, so the html
    payload crosses the Arrow boundary once (JVM sends ~100-byte url rows in,
    gets parsed rows out). This is the stage whose throughput the 100 TB
    target scales with; a split fetch→parse stage pair would move every page
    three times and bottleneck on serialization bandwidth, not CPU.
    Robots-blocked rows (status -403) keep an empty parse for frontier
    bookkeeping; downstream filters status != -403 before upsert."""

    def to_rows(f: pd.DataFrame) -> list[tuple]:
        import zlib

        from german_newspaper_crawler_spark.parse.registry import parse_with_registry

        rows = []
        for r in f.itertuples(index=False):
            html = r.html or ""
            d = parse_with_registry(r.domain, r.url, html)
            text = d["text"] or ""
            # identity per §1.4, python-side so raw html never crosses the
            # Arrow boundary
            content_hash, url_hash, text_hash = hashing.identity_hashes(
                r.url, text, html
            )
            rows.append(
                (
                    r.url, r.host, r.domain, r.base_url, r.priority, r.seq,
                    r.status, d["titel"], d["teaser"], d["autor"], d["category"],
                    d["published_date"],
                    zlib.compress(html.encode("utf-8"), 1),
                    text, d["figures"],
                    content_hash, url_hash, text_hash,
                    bool(html) and html.lstrip().startswith("%PDF"),
                )
            )
        return rows

    return fetch_stage(
        batch, fetcher, _ARTICLE_SCHEMA, to_rows,
        respect_delay, n_partitions, concurrency,
    )


def fetch_parse_listings_stage(
    batch: DataFrame,
    fetcher,
    respect_delay: bool = False,
    n_partitions: int | None = None,
    concurrency: int = 1,
) -> DataFrame:
    """Fused fetch + anchor-ladder extraction for listing rows (the P3
    flatmap): listing html never leaves the Python worker."""

    def to_rows(f: pd.DataFrame) -> list[tuple]:
        from german_newspaper_crawler_spark.parse.html import extract_anchors

        rows = []
        for r in f.itertuples(index=False):
            # per-page status marker (sel_rank=-1) for frontier bookkeeping
            rows.append((r.url, r.domain, r.base_url, None, None, -1, -1, r.status))
            for href, text, rank, pos in extract_anchors(r.html or ""):
                rows.append((r.url, r.domain, r.base_url, href, text, rank, pos, r.status))
        return rows

    return fetch_stage(
        batch, fetcher, _ANCHOR_SCHEMA, to_rows,
        respect_delay, n_partitions, concurrency,
    )


_IMAGE_OUT = StructType(
    list(schemas.IMAGES.fields)
    + [
        StructField("url", StringType()),
        StructField("status", IntegerType()),
        StructField("priority", IntegerType()),
        StructField("seq", LongType()),
    ]
)


def fetch_images_stage(
    batch: DataFrame,
    fetcher,
    respect_delay: bool = False,
    n_partitions: int | None = None,
    concurrency: int = 1,
) -> DataFrame:
    """Fused fetch + decode + pHash for image rows (G5/G6): image bytes cross
    the Arrow boundary once. Undecodable/blocked/failed rows keep their
    (url, status) for frontier bookkeeping with NULL image fields."""

    def to_rows(f: pd.DataFrame) -> list[tuple]:
        from german_newspaper_crawler_spark.functions.codec import decode_image
        from german_newspaper_crawler_spark.functions.phash import phash64

        rows = []
        for r in f.itertuples(index=False):
            rgb = None
            data = bytes(r.content) if r.content is not None else None
            if data is not None:
                try:
                    rgb = decode_image(data)
                except (NotImplementedError, ValueError):
                    rgb = None
            if rgb is None:
                rows.append(
                    (r.url, None, None, None, None, None, None,
                     r.url, r.status, r.priority, r.seq)
                )
            else:
                fmt = "png" if data[:4] == b"\x89PNG"[:4] else "jpeg"
                rows.append(
                    (
                        r.url, data, int(rgb.shape[1]), int(rgb.shape[0]), fmt,
                        r.anchor_text or "", phash64(rgb),
                        r.url, r.status, r.priority, r.seq,
                    )
                )
        return rows

    return fetch_stage(
        batch, fetcher, _IMAGE_OUT, to_rows,
        respect_delay, n_partitions, concurrency,
    )


# --- enrichment (X4 whitespace-fallback tagger — pure SQL, no UDF) ------------

def enrich_pos_tags(
    df: DataFrame,
    cap: int = MAX_POS_TAG_ENTRIES,
    skip_tokens: int = MAX_POS_TAG_TOKENS,
) -> DataFrame:
    """pos_tag_object semantics (pos_tagging.py:169-227) with the spaCy-less
    whitespace fallback (pos_tagging.py:108-116): tokens (i, w, '', '', ''),
    cap at ``cap``; skipped entirely (→ []) for binary urls, PDF magic, empty
    text, or token estimate over ``skip_tokens``. Same arguments as
    :func:`operators.enrichment.enrich_stage`."""
    from german_newspaper_crawler_spark.functions.text import token_count_estimate
    from german_newspaper_crawler_spark.functions.urls import is_binary_url

    est = token_count_estimate("text")
    pdf_like = (
        F.coalesce(F.col("is_pdf_like"), F.lit(False))
        if "is_pdf_like" in df.columns
        else F.ltrim(F.coalesce(F.col("html"), F.lit(""))).startswith("%PDF")
    )
    skip = (
        is_binary_url("url")
        | pdf_like
        | (F.coalesce(F.col("text"), F.lit("")) == "")
        | (est > skip_tokens)
    )
    tags = F.expr(
        f"""transform(
              slice(split(trim(text), '\\\\s+'), 1, {cap}),
              (w, i) -> struct(cast(i as int) as tid, w as token,
                               '' as lemma, '' as tag, '' as pos))"""
    )
    return df.withColumn(
        "pos_taggs",
        F.when(skip, F.array().cast(ArrayType(schemas.POS_TAG))).otherwise(tags),
    )


# --- seen-set + articles commit -------------------------------------------------

def _seen_join(
    df: DataFrame, hash_col: str, seen: DataFrame, how: str,
    scope_col: str | None = None,
) -> DataFrame:
    """The one seen probe (J1, web_requests.py:182-193): ``df`` rows joined
    on ``df[hash_col] == seen.content_hash``; ``how`` is ``"left_anti"``
    (keep unknown rows) or ``"left_semi"`` (keep known rows).

    ``scope_col`` (U2 strict mode, web_requests.py:222-229): when set
    (e.g. ``"domain"``), a hash only matches rows of the SAME scope value —
    reproducing the reference's per-collection known_hashes replacement,
    where a cross-domain duplicate is re-processed.

    No build-side distinct: a semi/anti join's result ignores duplicate
    seen rows, and a distinct would add a shuffle + aggregate over all of
    seen. A NULL hash never matches, so it is never skipped.
    """
    sel = [F.col("content_hash").alias("__seen_h")]
    if scope_col:
        sel.append(F.col(scope_col).alias("__seen_scope"))
    seen_h = seen.select(*sel)
    cond = df[hash_col] == seen_h["__seen_h"]
    if scope_col:
        cond = cond & (df[scope_col] == seen_h["__seen_scope"])
    return df.join(seen_h, cond, how)


def prefilter_known_urls(
    batch: DataFrame,
    seen: DataFrame,
    scope_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Pre-FETCH url-hash skip — the first half of the reference's
    three-variant known-hash skip (web_requests.py:182-193: drop the row if
    content_hash OR url_hash OR text-content-hash is known), applied to the
    pop batch BEFORE the fetch stage.

    For http(s) rows ``content_hash == url_hash == sha256(url)`` (§1.4,
    :func:`hashing.url_hash`), so a seen url-hash decides two of the three
    skip variants from the url alone: the row is dropped here and the fetch
    never happens — at 10^10-frontier scale this is the difference between
    re-downloading every refresh-crawl page and touching only new content.
    Non-http rows have ``url_hash`` NULL under the reference rule and are
    never skipped here (their content_hash is the text hash — post-fetch).

    :func:`skip_known_text` probes the remaining variant after the fetch:
    http rows probe {url_hash} here + {text_hash} after; non-http rows
    {} here + {text_hash} after (tests/test_fetch_politeness.py pins the
    surviving set).

    Returns ``(fresh, skipped)`` — callers record ``skipped`` urls with
    status -304 so the frontier marks them resolved without a fetch.
    ``batch`` feeds both outputs; run_crawl's pop batch is already cached.
    """
    probe = batch.withColumn("__uh", hashing.url_hash("url"))
    skipped = _seen_join(probe, "__uh", seen, "left_semi", scope_col).drop("__uh")
    fresh = _seen_join(probe, "__uh", seen, "left_anti", scope_col).drop("__uh")
    return fresh, skipped


def skip_known_text(
    articles: DataFrame,
    seen: DataFrame,
    blooms: DataFrame | None = None,
    scope_col: str | None = None,
) -> DataFrame:
    """Post-fetch text-hash skip — the other half of the split (see
    :func:`prefilter_known_urls`): ONE left-anti equi-join on
    ``text_content_hash``, a single linear consumer of the fetched batch —
    no cache requirement and exactly one payload shuffle worst-case
    (AQE broadcasts the seen side when small).

    With ``blooms`` (G1), rows whose text hash is provably absent bypass
    the exact join entirely — the overwhelmingly common fresh path. The
    bloom's "provably absent" is global, hence absent in every scope, so it
    composes with strict scope.
    """
    if blooms is None:
        return _seen_join(articles, "text_content_hash", seen, "left_anti", scope_col)
    from german_newspaper_crawler_spark.operators.bloom import split_maybe_seen

    fresh, maybe = split_maybe_seen(articles, blooms, "text_content_hash")
    return fresh.unionByName(
        _seen_join(maybe, "text_content_hash", seen, "left_anti", scope_col)
    )


# --- the driver loop -------------------------------------------------------------

def _fetch_state(status: Column) -> Column:
    """Frontier state a fetch status resolves a popped row to."""
    return (
        F.when(status == 200, F.lit("fetched"))
        .when(status == -403, F.lit("blocked"))
        .when(status == -304, F.lit("skipped"))
        .otherwise(F.lit("failed"))
    )


def run_crawl(
    spark: SparkSession,
    store: SnapshotStore,
    seeds: DataFrame,
    fetcher: Fetcher,
    cfg: CrawlConfig | None = None,
    run_id: str = "run-0",
) -> dict:
    """Run crawl rounds until the frontier drains or max_rounds is hit.

    Uses the FUSED fetch+parse stages throughout (one Arrow crossing per
    payload). Resumable: all state (frontier/seen/articles/images) lives in
    the store; re-invoking continues from the last committed snapshots
    (G7/T2). Per-round counters go to the metrics list (lineage table analog).
    """
    cfg = cfg or CrawlConfig()
    metrics: list[dict] = []
    from german_newspaper_crawler_spark.observability import RunLogger

    runlog = RunLogger(store, run_id, now=cfg.parsed_ts)

    if not store.exists("frontier"):
        store.append("frontier", FR.frontier_from_seeds(seeds, cfg.n_buckets))
        runlog.info("driver", "frontier_seeded")
    elif cfg.reseed_listings:
        # recurring run: flip the seed listing rows back to pending via the
        # same keyed merge the state transitions use (write ∝ |seeds|)
        store.merge_delta(
            "frontier", FR.frontier_from_seeds(seeds, cfg.n_buckets), keys=["url"]
        )
        runlog.info("driver", "frontier_reseeded")
    if not store.exists("seen"):
        store.append("seen", spark.createDataFrame([], schemas.SEEN))

    total_fetched = total_articles = total_images = 0
    # A3 id high-water: read ONCE per run (on resume this is the only full
    # articles aggregation), then track in driver state — assign_ids hands
    # out dense ids, so highwater advances by exactly n_articles per round
    # (a per-round max() over a 10^10-row table would reopen every footer)
    id_highwater = 0
    if store.exists("articles"):
        id_highwater = store.read(spark, "articles").agg(F.max("_id")).first()[0] or 0
    for rnd in range(cfg.max_rounds):
        t_round = time.perf_counter()
        frontier = store.read(spark, "frontier")
        authority = None
        if cfg.authority_priority:
            # refresh link-authority ranks from the observed host graph on
            # the configured cadence (and on first use); host_rank commits
            # through the same keyed-delta path as every other table —
            # write ∝ ranked hosts, never a frontier-sized rewrite
            if (
                rnd % AUTHORITY_REFRESH_EVERY == 0
                or not store.exists("host_rank")
            ):
                ranks = FR.authority_from_frontier(
                    frontier, iterations=AUTHORITY_ITERATIONS
                )
                if ranks is not None:
                    if store.exists("host_rank"):
                        store.merge_delta("host_rank", ranks, keys=["host"])
                    else:
                        store.append("host_rank", ranks)
                    runlog.info("driver", "host_rank_refreshed", round_no=rnd)
            if store.exists("host_rank"):
                authority = store.read(spark, "host_rank")
        batch = FR.pop_batch(
            frontier, cfg.per_host_budget,
            authority=authority, round_budget=cfg.round_budget,
        ).cache()
        # every frame cached this round, unpersisted when the round ends
        cached = [batch]
        # one aggregate decides the empty round and which kind legs run
        n_kind = {r["kind"]: r["count"] for r in batch.groupBy("kind").count().collect()}
        if not n_kind:
            batch.unpersist()
            break
        seen = store.read(spark, "seen", schemas.SEEN)

        # G2 at scale: robots state never touches the driver — the round's
        # hosts are TTL-checked as DataFrames, stale hosts go through a
        # distributed robots-fetch leg, and the rules come back onto the pop
        # batch via a broadcast join (VERDICT r1 #3).
        work = batch
        if cfg.use_robots_table:
            from german_newspaper_crawler_spark.operators.robots import (
                attach_robots, refresh_robots_df,
            )

            rules = refresh_robots_df(
                spark, store, batch.select("host"), fetcher,
                now=cfg.parsed_ts or datetime.utcnow(),
                ttl_hours=ROBOTS_TTL_HOURS,
            )
            # a left join keeps every batch row: work has the kinds n_kind saw
            work = attach_robots(batch, rules).cache()
            cached.append(work)

        new_frontier: list[DataFrame] = []
        status_parts: list[DataFrame] = []  # (url, status) for state updates
        n_articles = n_images = 0
        round_ts = cfg.parsed_ts or datetime.utcnow()  # F10 injected clock

        # 1) listings → fused fetch+anchor-extract → frontier refill
        if n_kind.get("listing"):
            anchors = fetch_parse_listings_stage(
                work.where(F.col("kind") == "listing"), fetcher,
                respect_delay=cfg.respect_delay, concurrency=cfg.fetch_concurrency,
            ).cache()
            cached.append(anchors)
            status_parts.append(
                anchors.where(F.col("sel_rank") == -1).select("page_url", "status")
                .withColumnRenamed("page_url", "url")
            )
            refill = refill_from_anchors(
                anchors.where(F.col("sel_rank") >= 0), seen, rnd + 1, cfg,
                scope_col="domain" if cfg.strict_refresh_replace else None,
            )
            new_frontier.append(refill)

        # 2) articles → url-hash pre-skip → fused fetch+parse (identity
        #    hashes computed in-stage) → text-hash skip → enrich → merge. The
        #    known-skip is SPLIT (prefilter_known_urls + skip_known_text):
        #    known urls never reach the fetch stage (status -304, state
        #    "skipped"), and the post-fetch check is one linear anti-join —
        #    the fetched batch has a single consumer chain.
        if n_kind.get("article"):
            scope = "domain" if cfg.strict_refresh_replace else None
            art_fresh, art_skipped = prefilter_known_urls(
                work.where(F.col("kind") == "article"), seen, scope_col=scope
            )
            parsed = fetch_parse_articles_stage(
                art_fresh, fetcher, respect_delay=cfg.respect_delay,
                concurrency=cfg.fetch_concurrency,
            ).cache()
            cached.append(parsed)
            status_parts.append(parsed.select("url", "status"))
            status_parts.append(
                art_skipped.select("url", F.lit(-304).alias("status"))
            )
            blooms = None
            if cfg.use_bloom:
                from german_newspaper_crawler_spark.operators.bloom import (
                    ensure_blooms,
                )

                # persistent incremental maintenance: per-round cost ∝ new
                # hashes (delta blobs OR-merge), full seen rescans only on
                # amortized capacity doublings — never per round (G1)
                blooms = ensure_blooms(spark, store, seen)
            # robots-blocked rows were never fetched → no article row;
            # failures (status 0/4xx/5xx) DO upsert with empty html
            # (web_requests.py:129-150)
            fresh = skip_known_text(
                parsed.where(F.col("status") != -403), seen,
                blooms=blooms, scope_col=scope,
            )
            if cfg.tagger is not None:
                enriched = enrich_stage(fresh, cfg.tagger)
                # post-tag re-check (web_requests.py:205-211): a mutating
                # tagger recomputes content_hash from the normalized text
                enriched = _seen_join(enriched, "content_hash", seen, "left_anti", scope)
            else:
                # the SQL tagger keeps content_hash, which is the url-hash
                # (http rows, probed by prefilter_known_urls) or the text
                # hash (other rows, probed by skip_known_text) against this
                # same seen — a re-check here could drop nothing
                enriched = enrich_pos_tags(fresh)
            parsed_ts = cfg.parsed_ts or datetime.utcnow()
            from german_newspaper_crawler_spark.operators.ids import assign_ids

            final = enriched.withColumn(
                "parsed_date",
                F.when(F.col("text") != "", F.lit(parsed_ts)).otherwise(
                    F.lit(None).cast("timestamp")
                ),
            ).withColumn("ai_keywords", F.array().cast(ArrayType(StringType())))
            final = assign_ids(
                final, order_cols=["domain", "priority", "seq"],
                offset=id_highwater,
            )
            articles_out = final.select(
                *[f.name for f in schemas.ARTICLES.fields]
            ).cache()
            cached.append(articles_out)
            n_articles = articles_out.count()
            id_highwater += n_articles
            if n_articles:
                # keyed delta, not a full-table MERGE rewrite — same
                # merge-on-read resolution as the frontier (write ∝ batch;
                # at 10^10 articles a per-round rewrite is the whole table)
                store.merge_delta("articles", articles_out, keys=["content_hash"])
                new_seen = articles_out.select(
                    "content_hash", "domain",
                    F.lit(parsed_ts).alias("added_at"),
                ).where(F.col("content_hash").isNotNull())
                store.append("seen", new_seen)
                if cfg.use_bloom:
                    from german_newspaper_crawler_spark.operators.bloom import (
                        update_blooms,
                    )

                    update_blooms(spark, store, new_seen)
            # 3) figures → image frontier rows (resolved against article url)
            if cfg.extract_images:
                figs = (
                    parsed.where(F.col("status") == 200)
                    .select(
                        "url", "domain", "base_url", "priority", "seq",
                        F.explode_outer("figures").alias("fig"),
                    )
                    .where(F.col("fig").isNotNull())
                    .select(
                        "url", "domain", "base_url", "priority", "seq",
                        F.col("fig.src").alias("href"),
                        F.col("fig.caption").alias("anchor_text"),
                        F.col("priority").alias("sel_rank"),
                        F.col("seq").alias("doc_pos"),
                    )
                )
                figs = figs.withColumn("abs_url", urljoin_udf(F.col("url"), F.col("href")))
                figs = FR.first_occurrence_dedup(figs)
                new_frontier.append(
                    FR.anchors_to_frontier(figs, rnd + 1, cfg.n_buckets, kind="image")
                )

        # 4) images → fused fetch+decode+phash → pHash near-dup suppression
        #    → append
        if n_kind.get("image"):
            img_out = fetch_images_stage(
                work.where(F.col("kind") == "image"), fetcher,
                respect_delay=cfg.respect_delay, concurrency=cfg.fetch_concurrency,
            ).cache()
            cached.append(img_out)
            status_parts.append(img_out.select("url", "status"))
            imgs = img_out.where(F.col("bytes").isNotNull()).select(
                *[f.name for f in schemas.IMAGES.fields], "priority", "seq"
            )
            from german_newspaper_crawler_spark.operators.dedup import (
                phash_suppress_near_dups,
            )

            seen_ph = None
            if store.exists("seen_phash"):
                seen_ph = store.read(spark, "seen_phash")
            elif store.exists("images"):
                # images without seen_phash: a store written before the side
                # table existed, or a crash between the first round's images
                # and seen_phash appends below. Either way, bootstrap the
                # narrow side table from the accepted images' phashes once.
                seen_ph = store.read(spark, "images").select(
                    "phash", F.lit(round_ts).alias("added_at")
                ).distinct()
                store.append("seen_phash", seen_ph)
            imgs = phash_suppress_near_dups(
                imgs, seen_ph, id_col="image_id", hash_col="phash",
                order_cols=["priority", "seq"], max_hamming=PHASH_MAX_HAMMING,
            ).select(*[f.name for f in schemas.IMAGES.fields]).cache()
            cached.append(imgs)
            n_images = imgs.count()
            if n_images:
                store.append("images", imgs)
                store.append(
                    "seen_phash",
                    imgs.select("phash", F.lit(round_ts).alias("added_at")).distinct(),
                )

        # 5) frontier state transitions + refill. State transitions go through
        # merge_delta (write ∝ popped-batch size, never a full-frontier
        # rewrite — VERDICT r1 #2); refill rows are new URLs, appended after
        # anti-joining the current frontier, so the store's append contract
        # (no key collisions with live deltas) holds by construction.
        n_fetched = n_failed = 0
        if status_parts:
            statuses = reduce(DataFrame.unionByName, status_parts).cache()
            cached.append(statuses)
            n_fetched, n_failed = statuses.agg(
                F.count(F.lit(1)),
                F.count(F.when(_fetch_state(F.col("status")) == "failed", 1)),
            ).first()
            done = (
                batch.drop("state")
                .join(statuses, "url")
                .select(
                    "url", "host", "bucket", "priority", "seq", "kind",
                    _fetch_state(F.col("status")).alias("state"),
                    F.lit(rnd).alias("round"),
                    "domain", "base_url", "anchor_text",
                    F.current_timestamp().alias("discovered_at"),
                )
            )
            store.merge_delta("frontier", done, keys=["url"])
            known_urls = frontier.select("url")
            for nf in new_frontier:
                fresh_rows = nf.join(known_urls, "url", "left_anti").cache()
                if not fresh_rows.isEmpty():
                    store.append("frontier", fresh_rows.select(
                        *[f.name for f in schemas.FRONTIER.fields]
                    ))
                    known_urls = known_urls.unionByName(fresh_rows.select("url"))
                fresh_rows.unpersist()
            if cfg.compact_every and (rnd + 1) % cfg.compact_every == 0:
                store.compact(spark, "frontier")
                if store.exists("articles"):
                    store.compact(spark, "articles")
                store.expire_snapshots("frontier", keep_last=EXPIRE_KEEP_LAST)
                store.expire_snapshots("articles", keep_last=EXPIRE_KEEP_LAST)

        metrics.append(
            {
                "run_id": run_id, "round": rnd, "stage": "round",
                "n_fetched": n_fetched, "n_articles": n_articles,
                "n_images": n_images, "n_failed": n_failed,
                "wall_ms": round((time.perf_counter() - t_round) * 1000),
            }
        )
        # structured run log (logging.py analog): a few rows per round,
        # flushed as one small append — never per-URL
        runlog.info(
            "round", "round_complete", round_no=rnd,
            n_fetched=n_fetched, n_articles=n_articles, n_images=n_images,
        )
        if n_fetched and not n_articles and not n_images:
            runlog.warning("round", "no_yield_round", round_no=rnd,
                           n_fetched=n_fetched)
        runlog.flush(spark)
        total_fetched += n_fetched
        total_articles += n_articles
        total_images += n_images
        for df in cached:
            df.unpersist()

    # G7: persist the per-round lineage/metrics rollup (per-row outcomes stay
    # in the data: the frontier's state column)
    if metrics:
        rows = [
            (
                m["run_id"], m["round"], m["stage"], None, None,
                m["n_fetched"], m["n_articles"] + m["n_images"],
                m["n_failed"], m["wall_ms"],
            )
            for m in metrics
        ]
        store.append("metrics", spark.createDataFrame(rows, schemas.METRICS))
    runlog.info("driver", "run_complete", rounds=len(metrics),
                fetched=total_fetched, articles=total_articles,
                images=total_images)
    runlog.flush(spark)
    runlog.rotate(keep_last=LOG_KEEP_SNAPSHOTS)

    return {
        "rounds": len(metrics),
        "fetched": total_fetched,
        "articles": total_articles,
        "images": total_images,
        "metrics": metrics,
    }
