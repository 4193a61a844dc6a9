"""robots.txt cache with TTL (graft G2 — no reference analog; the reference
fetches unconditionally, ``lib/common/web_requests.py:15-20``).

The ``robots`` store table is keyed by host with a ``fetched_at`` TTL. Each
crawl round the pop batch's hosts are TTL-filtered against the table as
DataFrames — no driver-side collect of robots state — stale/new hosts go
through a distributed robots-fetch leg (``mapInPandas`` over the same
injected fetcher), the results are committed via a keyed ``merge_delta``
(write ∝ refreshed hosts, not table size), and the round's fetch stages get
the rules via a broadcast join (:func:`attach_robots`).

TTL policy: a successful (HTTP 200) fetch is cached for ``ttl_hours``; a
failed / non-200 fetch is cached allow-all for only ``fail_ttl_hours`` so a
transient error can't lock in unrestricted crawling of a host for a day.

Parsing implements the de-facto standard (Google robots spec subset):
``User-agent`` group selection (most-specific matching token wins, ``*`` as
fallback), ``Disallow:``/``Allow:`` rules with ``*`` wildcards and ``$``
end-anchors, longest-pattern-wins resolution (tie → allow), and
``Crawl-delay:`` seconds. Not implemented: ``Sitemap:`` directives.
"""

from __future__ import annotations

import functools
import re
from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from german_newspaper_crawler_spark import schemas
from german_newspaper_crawler_spark.sources.store import SnapshotStore

# internal column names used to carry broadcast-joined robots rules into the
# fetch stages (see sources/fetch.py fetch_pandas_batch)
ROBOTS_COLS = ("__robots_dis", "__robots_allow", "__robots_delay")


def parse_robots_txt(
    text: str, user_agent: str = "*"
) -> tuple[list[str], list[str], int]:
    """(disallow_prefixes, allow_prefixes, crawl_delay_ms) for ``user_agent``.

    Group selection follows the robots.txt convention: of all groups whose
    ``User-agent`` token matches (case-insensitive substring of
    ``user_agent``, or ``*``), only the group(s) with the most specific
    (longest) matching token apply; ``*`` is the fallback with specificity 0.
    Empty/missing robots.txt → allow-all, no delay.
    """
    ua = (user_agent or "*").lower()
    # group -> (specificity, disallow, allow, delay)
    best_spec = -1
    disallow: list[str] = []
    allow: list[str] = []
    delay_ms = 0
    cur_spec: int | None = None  # matching specificity of the open group
    in_ua_block = False  # consecutive User-agent lines extend one group
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            tok = val.lower()
            if tok == "*":
                spec = 0
            elif ua != "*" and tok in ua:
                spec = len(tok)
            else:
                spec = -1  # group does not apply to us
            if in_ua_block:
                cur_spec = max(cur_spec if cur_spec is not None else -1, spec)
            else:
                cur_spec = spec
                in_ua_block = True
            continue
        in_ua_block = False
        if cur_spec is None or cur_spec < 0 or cur_spec < best_spec:
            continue
        if cur_spec > best_spec:
            # a more specific group supersedes everything gathered so far
            best_spec = cur_spec
            disallow, allow, delay_ms = [], [], 0
        if key == "disallow" and val:
            disallow.append(val)
        elif key == "allow" and val:
            allow.append(val)
        elif key == "crawl-delay":
            try:
                delay_ms = int(float(val) * 1000)
            except ValueError:
                pass
    return disallow, allow, delay_ms


@functools.lru_cache(maxsize=4096)
def _rule_regex(pattern: str):
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = ".*".join(re.escape(seg) for seg in body.split("*"))
    return re.compile("^" + rx + ("$" if anchored else ""))


def _rule_matches(path: str, pattern: str) -> bool:
    if "*" not in pattern and not pattern.endswith("$"):
        return path.startswith(pattern)  # fast path: plain prefix rule
    return _rule_regex(pattern).match(path) is not None


def robots_blocked(path: str, disallow: list[str], allow: list[str]) -> bool:
    """Google-spec rule resolution: the most specific (longest-pattern)
    matching rule wins, tie → allow. Patterns support ``*`` wildcards and
    ``$`` end-anchors; compiled forms are lru-cached (the fetch hot loop
    calls this per URL)."""
    m_dis = max((len(p) for p in disallow if _rule_matches(path, p)), default=-1)
    if m_dis < 0:
        return False
    m_alw = max((len(p) for p in allow if _rule_matches(path, p)), default=-1)
    return m_dis > m_alw


def robots_fetch_stage(
    stale_hosts: DataFrame, fetcher, now: datetime, user_agent: str = "*"
) -> DataFrame:
    """Distributed robots.txt fetch: one ROBOTS row per stale host, produced
    inside ``mapInPandas`` through the same injected fetcher the crawl uses
    (a ``kind='robots'`` fetch leg — millions of hosts never touch the
    driver). Failed / non-200 fetches parse as allow-all and carry their
    status so the TTL filter can expire them early."""

    def run(batches):
        for pdf in batches:
            rows = []
            for host in pdf["host"]:
                try:
                    status, text, _ = fetcher(f"https://{host}/robots.txt")
                except Exception:
                    status, text = 0, ""
                body = text if status == 200 else ""
                dis, alw, delay = parse_robots_txt(body, user_agent)
                rows.append((host, body, dis, alw, delay, now, status))
            yield pd.DataFrame(
                rows, columns=[f.name for f in schemas.ROBOTS.fields]
            )

    return stale_hosts.select("host").mapInPandas(run, schema=schemas.ROBOTS)


def refresh_robots_df(
    spark: SparkSession,
    store: SnapshotStore,
    hosts: DataFrame,
    fetcher,
    now: datetime,
    ttl_hours: int = 24,
    fail_ttl_hours: int = 1,
    user_agent: str = "*",
) -> DataFrame:
    """TTL-refresh the robots table for this round's hosts; return the rules
    DataFrame ``(host, disallow_prefixes, allow_prefixes, crawl_delay_ms)``
    covering them. Pure DataFrame plan end to end:

    * fresh = robots rows within TTL (success TTL / shorter failure TTL),
    * stale = round hosts ``left_anti`` fresh → distributed robots fetch leg,
    * committed via keyed ``merge_delta`` (write ∝ refreshed hosts),
    * returned rules = table ``left_semi`` round hosts.
    """
    hosts = hosts.select("host").distinct()
    tbl = store.read(spark, "robots", schemas.ROBOTS)
    ok_cut = now - timedelta(hours=ttl_hours)
    fail_cut = now - timedelta(hours=fail_ttl_hours)
    fresh = tbl.where(
        ((F.col("status") == 200) & (F.col("fetched_at") >= F.lit(ok_cut)))
        | ((F.col("status") != 200) & (F.col("fetched_at") >= F.lit(fail_cut)))
    )
    stale = hosts.join(fresh.select("host"), "host", "left_anti")
    if not stale.isEmpty():
        store.merge_delta(
            "robots", robots_fetch_stage(stale, fetcher, now, user_agent),
            keys=["host"],
        )
    return (
        store.read(spark, "robots", schemas.ROBOTS)
        .join(hosts, "host", "left_semi")
        .select("host", "disallow_prefixes", "allow_prefixes", "crawl_delay_ms")
    )


def attach_robots(batch: DataFrame, robots_df: DataFrame | None) -> DataFrame:
    """Broadcast-join per-host robots rules onto a pop batch. The rules side
    is one short row per distinct host in the batch — broadcast-sized by
    construction. Hosts without a rules row fetch unrestricted (allow-all),
    matching the reference's fetch-unconditionally behavior."""
    if robots_df is None:
        return batch
    rules = robots_df.select(
        "host",
        F.col("disallow_prefixes").alias(ROBOTS_COLS[0]),
        F.col("allow_prefixes").alias(ROBOTS_COLS[1]),
        F.col("crawl_delay_ms").alias(ROBOTS_COLS[2]),
    )
    return batch.join(F.broadcast(rules), "host", "left")
