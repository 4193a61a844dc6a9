"""Distributed fetch stage (S5/S6) with robots (G2) + politeness (G3).

Reference behavior: ``fetch_url`` GET with timeout=15, caller turns any
failure into ``html=""`` and continues (``lib/common/web_requests.py:15-20,
129-133``); main path fetches strictly sequentially (``:127``), library path
uses an 8-thread pool (``lib/common/parallel_fetcher.py:42-85``).

Spark formulation: the pop batch is partitioned by ``bucket`` (a pure
function of host, so one host never spans partitions) and each partition
runs ``mapInPandas`` with:

* robots check: rows whose path matches a disallowed prefix → status=-403,
  never fetched (graft — reference fetches unconditionally),
* politeness: per-host sequential fetch in (priority, seq) order with a
  crawl-delay token (partition-local state — exactly the reference's
  sequential loop, per host instead of global),
* failure → status 0 / html "" (reference's log-and-continue wall),
* per-partition metrics rows are emitted via an accumulator-free side
  channel (the fetch_ms column) for the lineage table (G7).

The fetcher is injected (reference test seam, taz.py:149-157): tests pass a
dict-backed fetcher; production passes :func:`http_fetcher`.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from german_newspaper_crawler_spark import schemas

# fetcher contract: url -> (status, html, content_bytes|None)
Fetcher = Callable[[str], tuple[int, str, bytes | None]]


def table_fetcher(pages: dict[str, tuple[int, str]], blobs: dict[str, bytes] | None = None) -> Fetcher:
    """Dict-backed fetcher for fixtures (the injected-fetcher test seam)."""
    blobs = blobs or {}

    def fetch(url: str) -> tuple[int, str, bytes | None]:
        if url in blobs:
            return 200, "", blobs[url]
        if url in pages:
            status, html = pages[url]
            return status, html, None
        return 404, "", None

    return fetch


def http_fetcher(timeout: int = 15, headers: dict | None = None) -> Fetcher:
    """Real HTTP fetcher (reference fetch_url semantics: raise-for-status is
    absorbed into status; text for pages, bytes for binary kinds)."""
    import requests

    def fetch(url: str) -> tuple[int, str, bytes | None]:
        try:
            r = requests.get(url, timeout=timeout, headers=headers)
            ctype = r.headers.get("content-type", "")
            if ctype.startswith(("image/", "application/")):
                return r.status_code, "", r.content
            return r.status_code, r.text, None
        except Exception:
            return 0, "", None  # caller-side empty-html semantics

    return fetch


def _path_of(url: str) -> str:
    i = url.find("/", url.find("://") + 3)
    return url[i:] if i >= 0 else "/"


def _fetch_host_rows(
    urls: list[str],
    host: str,
    fetcher: Fetcher,
    robots: dict[str, tuple[list[str], int]],
    respect_delay: bool,
    last_fetch: dict[str, float],
) -> list[tuple[int, str, bytes | None, int]]:
    """Strictly sequential fetch of one host's urls (the reference's per-URL
    loop, web_requests.py:127) with robots + crawl-delay enforcement.

    Robots dict values are ``(disallow, delay_ms)`` or
    ``(disallow, allow, delay_ms)``; resolution is longest-prefix-wins
    (operators/robots.py:robots_blocked)."""
    from german_newspaper_crawler_spark.operators.robots import robots_blocked

    out = []
    rule = robots.get(host, ([], 0))
    if len(rule) == 2:
        dis, delay_ms = rule
        allow: list[str] = []
    else:
        dis, allow, delay_ms = rule
    for url in urls:
        path = _path_of(url)
        if robots_blocked(path, dis, allow):
            out.append((-403, "", None, 0))  # robots-blocked, never fetched
            continue
        if respect_delay and delay_ms:
            wait = last_fetch.get(host, 0) + delay_ms / 1000.0 - time.monotonic()
            if wait > 0:
                time.sleep(wait)
        t0 = time.monotonic()
        try:
            status, html, content = fetcher(url)
        except Exception:
            status, html, content = 0, "", None  # web_requests.py:129-133
        last_fetch[host] = time.monotonic()
        out.append(
            (
                status,
                html if status == 200 else "",
                content if status == 200 else None,
                int((time.monotonic() - t0) * 1000),
            )
        )
    return out


def fetch_pandas_batch(
    pdf: pd.DataFrame,
    fetcher: Fetcher,
    robots: dict[str, tuple[list[str], int]],
    respect_delay: bool,
    last_fetch: dict[str, float],
    concurrency: int = 1,
) -> pd.DataFrame:
    """Fetch one Arrow batch (sorted per host by the explicit order key) with
    robots + politeness enforcement. ``last_fetch`` is the caller's
    partition-local politeness state. Returns pdf + status/html/content/
    fetch_ms columns.

    ``concurrency`` > 1 fans hosts out over a thread pool (the reference's
    library path, parallel_fetcher.py:42-85 with max_workers=8) — each host
    stays strictly sequential, so politeness holds; results are reassembled
    by position, so output order never depends on completion order (the
    reference's completion-order caveat, parallel_fetcher.py:111, is
    deliberately NOT reproduced: order is carried as data here).
    """
    pdf = pdf.sort_values(["host", "priority", "seq"], kind="mergesort")
    if "__robots_dis" in pdf.columns:
        # rules arrived as broadcast-joined columns (operators/robots.py
        # attach_robots) — the scale path; the dict param covers injected
        # static rules and tests
        robots = dict(robots)
        rr = pdf[["host", "__robots_dis", "__robots_allow", "__robots_delay"]]
        for h, dis, alw, delay in rr.drop_duplicates("host").itertuples(index=False):
            if dis is None and alw is None and pd.isna(delay):
                continue  # no rules row for this host → allow-all default
            robots[h] = (
                list(dis) if dis is not None else [],
                list(alw) if alw is not None else [],
                0 if pd.isna(delay) else int(delay),
            )
    host_groups: dict[str, list[int]] = {}
    urls = list(pdf["url"])
    for i, host in enumerate(pdf["host"]):
        host_groups.setdefault(host, []).append(i)

    results: list[tuple[int, str, bytes | None, int] | None] = [None] * len(pdf)
    if concurrency > 1 and len(host_groups) > 1:
        from concurrent.futures import ThreadPoolExecutor

        def run_host(host_idx):
            host, idxs = host_idx
            return idxs, _fetch_host_rows(
                [urls[i] for i in idxs], host, fetcher, robots, respect_delay, last_fetch
            )

        with ThreadPoolExecutor(max_workers=concurrency) as pool:
            for idxs, rows in pool.map(run_host, host_groups.items()):
                for i, row in zip(idxs, rows):
                    results[i] = row
    else:
        for host, idxs in host_groups.items():
            rows = _fetch_host_rows(
                [urls[i] for i in idxs], host, fetcher, robots, respect_delay, last_fetch
            )
            for i, row in zip(idxs, rows):
                results[i] = row

    out = pdf.copy()
    out["status"] = pd.Series([r[0] for r in results], index=pdf.index, dtype="int32")
    out["html"] = pd.Series([r[1] for r in results], index=pdf.index, dtype=object)
    out["content"] = pd.Series([r[2] for r in results], index=pdf.index, dtype=object)
    out["fetch_ms"] = pd.Series([r[3] for r in results], index=pdf.index, dtype="int64")
    return out


def partition_by_bucket(batch: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """Repartition a pop batch so a host never spans partitions (politeness
    is partition-local, G3)."""
    parts = n_partitions or max(batch.sparkSession.sparkContext.defaultParallelism, 1)
    return batch.repartition(parts, "bucket")


BATCH_COLS = [
    "url", "host", "bucket", "priority", "seq", "kind",
    "domain", "base_url", "anchor_text",
]


def stage_input(batch: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """Project a pop batch to the fetch-stage input columns (plus any
    broadcast-joined robots rule columns) and co-locate hosts by bucket."""
    cols = BATCH_COLS + [c for c in batch.columns if c.startswith("__robots_")]
    return partition_by_bucket(batch.select(*cols), n_partitions)


def fetch_stage(
    batch: DataFrame,
    fetcher: Fetcher,
    robots: dict[str, tuple[list[str], int]] | None = None,
    respect_delay: bool = False,
    n_partitions: int | None = None,
    concurrency: int = 1,
    schema: StructType = schemas.FETCHED,
    to_rows: Callable[[pd.DataFrame], list[tuple]] | None = None,
) -> DataFrame:
    """Run the fetch over a pop batch in ONE ``mapInPandas`` → ``schema`` rows.

    ``robots`` maps host → (disallow_prefixes, crawl_delay_ms); it is a
    broadcast-sized dict (one row per host seen this round — at 10^10 scale
    this becomes a broadcast join against the robots table, same shape).

    ``to_rows`` turns each fetched pandas batch (the input columns plus
    status/html/content/fetch_ms) into output tuples in ``schema`` field
    order, inside the same Python worker; without it the fetched rows are
    projected to ``schema`` (default :data:`schemas.FETCHED`). The fused
    crawl stages (plans.crawl ``fetch_parse_*_stage``/``fetch_images_stage``)
    parse there, so the multi-KB page payload crosses the JVM↔Python Arrow
    boundary once instead of three times, which is what the throughput
    scales with.
    """
    robots = robots or {}
    src = stage_input(batch, n_partitions)
    names = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last_fetch: dict[str, float] = {}  # partition-local politeness state
        for pdf in batches:
            if len(pdf) == 0:
                continue
            f = fetch_pandas_batch(
                pdf, fetcher, robots, respect_delay, last_fetch, concurrency
            )
            yield f[names] if to_rows is None else pd.DataFrame(to_rows(f), columns=names)

    return src.mapInPandas(run, schema=schema)
