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
* failure → status 0 / html "" (reference's log-and-continue wall).

Robots rules arrive only as the broadcast-joined ``__robots_*`` columns
(``operators/robots.py::attach_robots``); a batch without them fetches
every host unrestricted.

The fetcher is injected (reference test seam, taz.py:149-157): tests pass a
dict-backed fetcher; production passes :func:`http_fetcher`.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

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
    rule: tuple[list[str], list[str], int],
    respect_delay: bool,
    last_fetch: dict[str, float],
) -> list[tuple[int, str, bytes | None]]:
    """Strictly sequential fetch of one host's urls (the reference's per-URL
    loop, web_requests.py:127) with robots + crawl-delay enforcement.

    ``rule`` is the host's ``(disallow, allow, delay_ms)``; resolution is
    longest-prefix-wins (operators/robots.py:robots_blocked)."""
    from german_newspaper_crawler_spark.operators.robots import robots_blocked

    out = []
    dis, allow, delay_ms = rule
    for url in urls:
        if robots_blocked(_path_of(url), dis, allow):
            out.append((-403, "", None))  # robots-blocked, never fetched
            continue
        if respect_delay and delay_ms:
            wait = last_fetch.get(host, 0) + delay_ms / 1000.0 - time.monotonic()
            if wait > 0:
                time.sleep(wait)
        try:
            status, html, content = fetcher(url)
        except Exception:
            status, html, content = 0, "", None  # web_requests.py:129-133
        last_fetch[host] = time.monotonic()
        out.append(
            (status, html if status == 200 else "", content if status == 200 else None)
        )
    return out


_ALLOW_ALL: tuple[list[str], list[str], int] = ([], [], 0)


def _host_rules(pdf: pd.DataFrame) -> dict[str, tuple[list[str], list[str], int]]:
    """host → ``(disallow, allow, delay_ms)`` from the batch's robots columns;
    hosts without a rules row (null columns) and batches without the
    columns are allow-all with no delay."""
    from german_newspaper_crawler_spark.operators.robots import ROBOTS_COLS

    if ROBOTS_COLS[0] not in pdf.columns:
        return {}
    rr = pdf[["host", *ROBOTS_COLS]]
    return {
        h: (
            list(dis) if dis is not None else [],
            list(alw) if alw is not None else [],
            0 if pd.isna(delay) else int(delay),
        )
        for h, dis, alw, delay in rr.drop_duplicates("host").itertuples(index=False)
    }


def fetch_pandas_batch(
    pdf: pd.DataFrame,
    fetcher: Fetcher,
    respect_delay: bool,
    last_fetch: dict[str, float],
    concurrency: int = 1,
) -> pd.DataFrame:
    """Fetch one Arrow batch (sorted per host by the explicit order key) with
    robots + politeness enforcement. Each host's rule comes from the
    ``__robots_dis``/``__robots_allow``/``__robots_delay`` columns
    (:func:`operators.robots.attach_robots`); without them every host is
    allow-all with no delay. ``last_fetch`` is the caller's partition-local
    politeness state. Returns pdf + status/html/content columns.

    ``concurrency`` > 1 fans hosts out over a thread pool (the reference's
    library path, parallel_fetcher.py:42-85 with max_workers=8) — each host
    stays strictly sequential, so politeness holds; results are reassembled
    by position, so output order never depends on completion order (the
    reference's completion-order caveat, parallel_fetcher.py:111, is
    deliberately NOT reproduced: order is carried as data here).
    """
    pdf = pdf.sort_values(["host", "priority", "seq"], kind="mergesort")
    rules = _host_rules(pdf)
    host_groups: dict[str, list[int]] = {}
    urls = list(pdf["url"])
    for i, host in enumerate(pdf["host"]):
        host_groups.setdefault(host, []).append(i)

    def run_host(host_idx):
        host, idxs = host_idx
        return idxs, _fetch_host_rows(
            [urls[i] for i in idxs], host, fetcher, rules.get(host, _ALLOW_ALL),
            respect_delay, last_fetch,
        )

    results: list[tuple[int, str, bytes | None] | None] = [None] * len(pdf)
    if concurrency > 1 and len(host_groups) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=concurrency) as pool:
            fetched = list(pool.map(run_host, host_groups.items()))
    else:
        fetched = [run_host(hi) for hi in host_groups.items()]
    for idxs, rows in fetched:
        for i, row in zip(idxs, rows):
            results[i] = row

    out = pdf.copy()
    out["status"] = pd.Series([r[0] for r in results], index=pdf.index, dtype="int32")
    out["html"] = pd.Series([r[1] for r in results], index=pdf.index, dtype=object)
    out["content"] = pd.Series([r[2] for r in results], index=pdf.index, dtype=object)
    return out


# the pop-batch columns the fetch stage reads (plus any robots rule columns)
BATCH_COLS = [
    "url", "host", "bucket", "priority", "seq", "kind",
    "domain", "base_url", "anchor_text",
]


def fetch_stage(
    batch: DataFrame,
    fetcher: Fetcher,
    schema: StructType,
    to_rows: Callable[[pd.DataFrame], list[tuple]],
    respect_delay: bool = False,
    n_partitions: int | None = None,
    concurrency: int = 1,
) -> DataFrame:
    """Run the fetch over a pop batch in ONE ``mapInPandas`` → ``schema`` rows.

    Robots rules are the batch's ``__robots_*`` columns, broadcast-joined by
    :func:`operators.robots.attach_robots` (one short row per host, so the
    rules scale with the batch, never with a driver-side dict); a batch
    without them fetches unrestricted.

    ``to_rows`` turns each fetched pandas batch (the input columns plus
    status/html/content) into output tuples in ``schema`` field order,
    inside the same Python worker. The fused crawl stages (plans.crawl
    ``fetch_parse_*_stage``/``fetch_images_stage``) parse there, so the
    multi-KB page payload crosses the JVM↔Python Arrow boundary once
    instead of three times, which is what the throughput scales with.
    """
    # bucket is a pure function of host, so a host never spans partitions:
    # politeness state is partition-local (G3)
    cols = BATCH_COLS + [c for c in batch.columns if c.startswith("__robots_")]
    parts = n_partitions or max(batch.sparkSession.sparkContext.defaultParallelism, 1)
    src = batch.select(*cols).repartition(parts, "bucket")
    names = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last_fetch: dict[str, float] = {}  # partition-local politeness state
        for pdf in batches:
            if len(pdf) == 0:
                continue
            f = fetch_pandas_batch(pdf, fetcher, respect_delay, last_fetch, concurrency)
            yield pd.DataFrame(to_rows(f), columns=names)

    return src.mapInPandas(run, schema=schema)
