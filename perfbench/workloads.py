"""The benchmark's workloads and their output checks.

Each workload takes a :class:`Context`, prepares its inputs from the seed
(timed as set-up, several times), measures its unit of work until
``seconds`` have passed (at least once), checks every output outside the
timed window, and returns a :class:`Result`. With a tracer, the same run
also yields per-layer metrics (see ``trace.py``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

SETUP_REPS = 3
PARSED_TS = datetime(2026, 1, 2, 3, 4, 5)


@dataclass
class Context:
    """What a workload gets. The Spark session starts on first use of
    ``spark``, so a workload can prepare inputs that need no Spark first."""

    start_spark: object  # () -> SparkSession
    seed: int
    seconds: float
    work_dir: str
    trace: bool = False
    tracer: object | None = None  # trace.Tracer once Spark runs, if traced
    spark_start_s: float = 0.0
    session: object = None  # the SparkSession, once started

    @property
    def spark(self):
        if self.session is None:
            t = time.perf_counter()
            self.session = self.start_spark()
            self.spark_start_s = time.perf_counter() - t
            if self.trace:
                from perfbench.trace import Tracer

                self.tracer = Tracer(self.session.sparkContext)
        return self.session


@dataclass
class Result:
    setup_s: list[float] = field(default_factory=list)
    work_s: list[float] = field(default_factory=list)  # one per unit of work
    work_cpu_s: list[float] = field(default_factory=list)  # process-tree CPU
    steal_share: list[float] = field(default_factory=list)  # host steal / all
    steps: dict[str, float] = field(default_factory=dict)  # round / query walls
    step_cpu_s: dict[str, float] = field(default_factory=dict)  # and their CPU
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    phases: dict[str, float] = field(default_factory=dict)  # wall per phase

    def phase(self, name: str, since: float) -> float:
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + now - since
        return now

    @contextmanager
    def unit_of_work(self):
        """Time one unit of work: wall, process-tree CPU, host steal share."""
        from perfbench.probes import host_counters, tree_cpu_s

        pid = os.getpid()
        cpu0, (steal0, all0) = tree_cpu_s(pid), host_counters()
        t = time.perf_counter()
        yield
        self.work_s.append(time.perf_counter() - t)
        steal1, all1 = host_counters()
        self.work_cpu_s.append(tree_cpu_s(pid) - cpu0)
        self.steal_share.append((steal1 - steal0) / max(all1 - all0, 1))

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.mismatches.append(what)


# --- crawl_rounds --------------------------------------------------------------

# 6 hosts x (6 articles + 2 robots-blocked links). The crawl resumes after
# its listing round: the frontier holds every listing link as a pending
# article row, as the listing round leaves it. With a per-host budget of 8
# the site then drains in two rounds (articles, then their images), and
# compact_every=2 puts one compaction boundary inside the crawl. Starting
# after the listing round keeps one cold crawl inside the run's time budget.
CRAWL_SITE = dict(n_hosts=6, articles_per_host=6, figs_per_article=1, blocked_per_host=2)
# hashes an earlier run left in the seen table; the URL prefilter, the
# text-hash anti-joins and the Bloom bootstrap all run against them
SEEN_PADDING = 100_000


def crawl_config():
    from german_newspaper_crawler_spark.plans.crawl import CrawlConfig

    return CrawlConfig(
        n_buckets=8, per_host_budget=8, max_rounds=12, parsed_ts=PARSED_TS,
        use_robots_table=True, use_bloom=True, compact_every=2,
        fetch_concurrency=1,
    )


def prepare_crawl_store(spark, site, root: str):
    """A fresh store as the listing round leaves it: listings fetched, every
    listing link a pending article row, and a seen table of SEEN_PADDING
    unrelated hashes."""
    import hashlib

    import pandas as pd
    from pyspark.sql import functions as F

    from german_newspaper_crawler_spark import schemas
    from german_newspaper_crawler_spark.operators import frontier as FR
    from german_newspaper_crawler_spark.sources.store import SnapshotStore

    n_buckets = crawl_config().n_buckets
    shutil.rmtree(root, ignore_errors=True)
    store = SnapshotStore(root)
    seeds = spark.createDataFrame(pd.DataFrame(site.seeds()))
    rows = [(s["domain"], s["base_url"], s["base_url"], None, 0, k, "listing", "fetched", 0)
            for k, s in enumerate(site.seeds())]
    rows += [(s["domain"], s["base_url"], url, text, rank, pos, "article", "pending", 1)
             for s in site.seeds() for pos, (url, text, rank) in enumerate(site.links(s["host"]))]
    cols = ["domain", "base_url", "url", "anchor_text", "priority", "seq", "kind", "state", "round"]
    front = spark.createDataFrame(pd.DataFrame(rows, columns=cols).astype(
        {"priority": "int32", "seq": "int64", "round": "int32"}))
    front = (
        front.withColumn("host", FR.host_of("url"))
        .withColumn("bucket", FR.bucket_of(FR.host_of("url"), n_buckets))
        .withColumn("discovered_at", F.lit(PARSED_TS))
        .select(*[F.col(f.name).cast(f.dataType) for f in schemas.FRONTIER.fields])
    )
    store.append("frontier", front)
    pad = pd.DataFrame({
        "content_hash": [hashlib.sha256(f"pad-{site.seed}-{i}".encode()).hexdigest()
                         for i in range(SEEN_PADDING)],
        "domain": "d99",
        "added_at": PARSED_TS,
    })
    store.append("seen", spark.createDataFrame(pad, schemas.SEEN))
    return store, seeds


class RoundClock:
    """Marks crawl-round boundaries: ``run_crawl`` pops the frontier exactly
    once per round, so the spans between pops are the rounds. Each mark
    holds the wall clock and the process tree's CPU seconds. In a traced run
    each pop also opens the next round's job-group scope, ``<prefix>r<i>``."""

    def __init__(self, tracer=None):
        from german_newspaper_crawler_spark.operators import frontier
        from perfbench.probes import tree_cpu_s

        self.marks: list[tuple[float, float]] = []
        self.prefix = ""
        self._mod, self._orig = frontier, frontier.pop_batch
        clock, pid = self, os.getpid()

        def pop_batch(*args, **kwargs):
            clock.marks.append((time.perf_counter(), tree_cpu_s(pid)))
            if tracer is not None:
                tracer.set_scope(clock.scope(len(clock.marks) - 1))
            return clock._orig(*args, **kwargs)

        frontier.pop_batch = pop_batch

    def scope(self, i: int) -> str:
        return f"{self.prefix}r{i}"

    def start(self, prefix: str) -> None:
        self.prefix = prefix
        self.marks.clear()

    def close(self) -> None:
        self._mod.pop_batch = self._orig

    def rounds(self) -> list[tuple[float, float]]:
        """(wall, CPU) seconds of each round."""
        return [(b[0] - a[0], b[1] - a[1]) for a, b in zip(self.marks, self.marks[1:])]


def read_crawl_tables(spark, store):
    """(articles, image pHashes, frontier) as committed, for check_crawl."""
    arts = store.read(spark, "articles").toPandas()
    phashes = [int(p) for p in store.read(spark, "images").select("phash").toPandas()["phash"]]
    return arts, phashes, store.read(spark, "frontier").toPandas()


def check_crawl(site, arts, phashes: list[int], front, res: Result) -> dict:
    """Committed articles and image pHashes against the generator's ground
    truth; article fields against the reference simulator; robots-blocked
    links never fetched. Returns the counts the yield ratios need."""
    from tests.reference_sim import simulate_crawl

    want = set(site.article_urls())
    got = list(arts["url"])
    res.check(len(got) == len(set(got)), "articles: duplicate url rows")
    for u in sorted(want ^ set(got)):
        res.check(False, f"articles: {'missing' if u in want else 'unexpected'} {u}")
    res.attempted += len(want & set(got))

    want_ph = site.expected_phashes()
    res.check(len(phashes) == len(set(phashes)), "images: duplicate phash rows")
    for p in sorted(want_ph ^ set(phashes)):
        res.check(False, f"images: {'missing' if p in want_ph else 'unexpected'} phash {p}")
    res.attempted += len(want_ph & set(phashes))

    state = dict(zip(front["url"], front["state"]))
    for u in site.blocked_urls():
        res.check(state.get(u) == "blocked", f"robots: {u} state {state.get(u)}")

    # field parity with the sequential reference model (ids differ: the
    # per-host budget reorders fetches, which the simulator does not model)
    pages = {s["base_url"]: site(s["base_url"])[:2] for s in site.seeds()}
    pages.update({u: site(u)[:2] for u in want})
    golden, _, _ = simulate_crawl(site.seeds(), pages, parsed_ts=PARSED_TS)
    gold = {g["url"]: g for g in golden}
    for row in arts.itertuples(index=False):
        g = gold.get(row.url)
        res.check(g is not None, f"parity: {row.url} not in reference crawl")
        for f in ("teaser", "autor", "category", "text", "content_hash"):
            res.check(g is not None and getattr(row, f) == g[f], f"parity: {row.url} {f}")

    articles = front[front["kind"] == "article"]
    images = front[front["kind"] == "image"]
    return {
        "articles": len(got), "images": len(phashes),
        "article_rows": len(articles),
        "images_fetched": int((images["state"] == "fetched").sum()),
    }


def crawl_rounds(ctx: Context) -> Result:
    from german_newspaper_crawler_spark.plans.crawl import run_crawl
    from perfbench.site import Site

    spark, res = ctx.spark, Result()
    tracer = ctx.tracer
    prepared = []
    for k in range(SETUP_REPS):
        t = time.perf_counter()
        site = Site(seed=ctx.seed, **CRAWL_SITE)
        site.expected_phashes()  # draws the image set
        store, seeds = prepare_crawl_store(spark, site, os.path.join(ctx.work_dir, f"store{k}"))
        prepared.append((site, store, seeds))
        res.setup_s.append(time.perf_counter() - t)

    probe = StoreProbe() if tracer else None
    if tracer:
        wrap_layers(tracer)
    clock = RoundClock(tracer)
    n_rounds, counts = [], {}
    t_all = time.perf_counter()
    try:
        for k, (site, store, seeds) in enumerate(prepared):
            clock.start(f"c{k}")
            if tracer:
                tracer.paused = False
                tracer.set_scope(f"c{k}head")
            with res.unit_of_work():
                run_crawl(spark, store, seeds, site, cfg=crawl_config())
            for i, (wall, cpu) in enumerate(clock.rounds()):
                res.steps[clock.scope(i)], res.step_cpu_s[clock.scope(i)] = wall, cpu
            n_rounds.append(len(clock.rounds()))
            if tracer:
                tracer.paused = True
                tracer.set_scope("check")
            t = time.perf_counter()
            counts = check_crawl(site, *read_crawl_tables(spark, store), res)
            res.phase("check", t)
            if time.perf_counter() - t_all >= ctx.seconds:
                break
    finally:
        clock.close()
        if tracer:
            tracer.close()
            probe.close()
    if tracer:
        scopes = {f"c{k}r{i}" for k, n in enumerate(n_rounds) for i in range(n)}
        round_wall = sum(res.steps.values())
        res.layer.update(crawl_layer_metrics(tracer, scopes, round_wall, counts, probe))
    return res


# --- per-layer wrapping ----------------------------------------------------------

STORE_METHODS = ("append", "merge_delta", "overwrite", "read", "compact", "expire_snapshots")


def wrap_layers(tracer) -> None:
    """Span every public layer entry point the crawl loop calls."""
    from german_newspaper_crawler_spark.operators import bloom, robots
    from german_newspaper_crawler_spark.sources.store import SnapshotStore

    for m in STORE_METHODS:
        tracer.wrap(SnapshotStore, m, f"store.{m}")
    tracer.wrap(robots, "refresh_robots_df", "robots.refresh")
    tracer.wrap(bloom, "ensure_blooms", "bloom.ensure")
    tracer.wrap(bloom, "update_blooms", "bloom.update")


class StoreProbe:
    """Counts commits and snapshot bytes written, and the longest live
    snapshot chain, by wrapping the store's write methods (traced runs)."""

    WRITES = ("append", "merge_delta", "overwrite")

    def __init__(self):
        from german_newspaper_crawler_spark.sources.store import SnapshotStore

        self.commits = self.bytes_written = self.live_max = 0
        self._cls = SnapshotStore
        self._orig = {m: SnapshotStore.__dict__[m] for m in self.WRITES}
        for name, orig in self._orig.items():
            setattr(SnapshotStore, name, self._probed(orig))

    def _probed(self, orig):
        probe = self

        def write(store, table, *args, **kwargs):
            out = orig(store, table, *args, **kwargs)
            live = store._read_manifest(table)["live"]
            probe.commits += 1
            probe.live_max = max(probe.live_max, len(live))
            probe.bytes_written += _du(os.path.join(store._tdir(table), live[-1]))
            return out

        return write

    def close(self) -> None:
        for name, orig in self._orig.items():
            setattr(self._cls, name, orig)


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def crawl_layer_metrics(tracer, scopes: set[str], round_wall: float, counts: dict, probe) -> dict:
    got = tracer.harvest()
    in_rounds = {}
    for (scope, layer), v in tracer.scoped_self.items():
        if scope in scopes:
            in_rounds[layer] = in_rounds.get(layer, 0.0) + v
    attributed = sum(in_rounds.values())
    jobs = [got["jobs_by_scope"].get(s, 0) for s in scopes]
    L = tracer.layers
    return {
        "store.append_s": L["store.append"].self_s,
        "store.merge_delta_s": L["store.merge_delta"].self_s,
        "store.read_s": L["store.read"].self_s,
        "store.compact_s": L["store.compact"].self_s + L["store.overwrite"].self_s,
        "store.commits": probe.commits,
        "store.bytes_written": probe.bytes_written,
        "store.live_snapshots_max": probe.live_max,
        "crawl.round_wall_s": round_wall,
        "crawl.attributed_s": attributed,
        "crawl.unattributed_s": round_wall - attributed,
        "crawl.jobs_per_round": statistics.median(jobs) if jobs else 0,
        "crawl.article_yield": counts.get("articles", 0) / max(counts.get("article_rows", 0), 1),
        "crawl.image_keep_ratio": counts.get("images", 0) / max(counts.get("images_fetched", 0), 1),
        "robots.refresh_s": L["robots.refresh"].total_s,
        "robots.jobs": L["robots.refresh"].jobs,
        "bloom.ensure_s": L["bloom.ensure"].total_s,
        "bloom.update_s": L["bloom.update"].total_s,
        "bloom.jobs": L["bloom.ensure"].jobs + L["bloom.update"].jobs,
        "arrow.stages": got["arrow"][0],
        "arrow.stage_run_s": got["arrow"][1],
        "arrow.stage_cpu_s": got["arrow"][2],
        **{f"split.{k}": v for k, v in sorted(in_rounds.items())},
    }


# --- dedup_queries ---------------------------------------------------------------

def bench_queries() -> dict:
    from german_newspaper_crawler_spark.plans.queries import REGISTRY

    return {name: spec for name, spec in REGISTRY.items() if spec.bench}


class _Collected:
    """A collected result in the shape ``oracle_check.compare`` reads."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def duckdb_results(data_dir: str, queries: dict, threads: int = 3) -> dict:
    import duckdb

    from tests.oracle_check import TABLES

    con = duckdb.connect()
    con.sql(f"SET threads TO {threads}")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return {name: con.sql(spec.oracle).df() for name, spec in queries.items()}


def check_queries(results: dict, oracle: dict, res: Result) -> None:
    import contextlib
    import io

    from tests.oracle_check import compare

    for name, pdf in results.items():
        log = io.StringIO()
        with contextlib.redirect_stdout(log):
            ok = compare(name, _Collected(pdf), oracle[name])
        res.check(ok, f"query {name}: {log.getvalue().strip()}")


def dedup_queries(ctx: Context) -> Result:
    """The first pass runs on a fresh session, as a one-shot query job does,
    so it pays code generation and JIT; plan changes move that share as much
    as kernel changes move the rest. Each pass collects every result, and
    every collected result is checked against DuckDB."""
    import contextlib

    from perfbench.probes import tree_cpu_s
    from perfbench.tables import TABLE_NAMES, write_tables

    res = Result()
    data_dir = os.path.join(ctx.work_dir, "tables")
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        shutil.rmtree(data_dir, ignore_errors=True)
        write_tables(data_dir, ctx.seed)
        res.setup_s.append(time.perf_counter() - t)

    queries = bench_queries()
    # the DuckDB oracle computes its answers while Spark starts
    oracle: dict = {}
    worker = threading.Thread(
        target=lambda: oracle.update(duckdb_results(data_dir, queries)), daemon=True)
    worker.start()
    spark, tracer = ctx.spark, ctx.tracer
    t = time.perf_counter()
    # prime the session (first jobs, parquet footers), as bench.py does, so
    # the first query does not carry the whole session's start-up
    for name in TABLE_NAMES:
        spark.read.parquet(os.path.join(data_dir, f"{name}.parquet")).count()
    t = res.phase("warm-up", t)
    worker.join()
    if len(oracle) != len(queries):
        raise RuntimeError("DuckDB oracle did not finish")
    res.phase("oracle wait", t)

    if tracer:
        wrap_layers(tracer)  # store/robots/bloom must stay untouched here
    span = tracer.span if tracer else (lambda _layer: contextlib.nullcontext())
    per_query: dict[str, list[tuple[float, float]]] = {n: [] for n in queries}
    pid = os.getpid()
    t_all = time.perf_counter()
    try:
        while not res.work_s or time.perf_counter() - t_all < ctx.seconds:
            if tracer:
                tracer.set_scope(f"p{len(res.work_s)}")
            collected = {}
            with res.unit_of_work():
                for name, spec in queries.items():
                    t, cpu = time.perf_counter(), tree_cpu_s(pid)
                    with span(f"query.{name}"):  # the build runs jobs too
                        collected[name] = spec.spark(spark, data_dir).toPandas()
                    per_query[name].append((time.perf_counter() - t, tree_cpu_s(pid) - cpu))
                    spark.catalog.clearCache()  # drop persisted intermediates
            t = time.perf_counter()
            check_queries(collected, oracle, res)
            res.phase("check", t)
    finally:
        if tracer:
            tracer.close()
    res.steps = {name: statistics.median(w for w, _ in v) for name, v in per_query.items()}
    res.step_cpu_s = {name: statistics.median(c for _, c in v) for name, v in per_query.items()}
    if tracer:
        res.layer.update(query_layer_metrics(tracer, queries, len(res.work_s)))
    return res


def query_layer_metrics(tracer, queries: dict, passes: int) -> dict:
    tracer.harvest()
    out = {}
    for name in queries:
        st = tracer.layers[f"query.{name}"]
        out[f"query_s.{name}"] = st.total_s / passes
        out[f"query_jobs.{name}"] = st.jobs / passes
        out[f"query_shuffle_bytes.{name}"] = st.shuffle_bytes / passes
        out[f"query_spill_bytes.{name}"] = st.spill_bytes / passes
    return out


WORKLOADS = {"crawl_rounds": crawl_rounds, "dedup_queries": dedup_queries}
