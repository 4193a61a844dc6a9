"""Tests of the benchmark's own parts: input generators, output checkers,
metric names, and the refusal to run outside a full checkout.

    python3 -m pytest perfbench -q

None of these start Spark.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import run
from perfbench.site import Site
from perfbench.tables import write_tables
from perfbench.trace import Tracer
from perfbench.workloads import (
    CRAWL_SITE, PARSED_TS, Result, bench_queries, check_crawl, check_queries,
    crawl_layer_metrics,
)

SMALL = dict(n_hosts=2, articles_per_host=4, figs_per_article=1, blocked_per_host=1)


def _pages(site: Site) -> dict:
    urls = [s["base_url"] for s in site.seeds()] + site.article_urls() + site.blocked_urls()
    urls += [f"https://{h}/img/{i}_{j}.png" for h in site.hosts
             for i in range(site.articles_per_host) for j in range(site.figs_per_article)]
    return {u: site(u) for u in urls}


def test_site_is_deterministic_per_seed():
    a, b, c = Site(seed=5, **SMALL), Site(seed=5, **SMALL), Site(seed=6, **SMALL)
    assert _pages(a) == _pages(b)
    assert a.expected_phashes() == b.expected_phashes()
    assert a.hosts != c.hosts
    assert a.expected_phashes() != c.expected_phashes()


def test_site_plants_exact_duplicate_images_only():
    from german_newspaper_crawler_spark.functions.phash import hamming64

    site = Site(seed=3, **CRAWL_SITE)
    hashes = sorted(site.expected_phashes())
    n_images = site.n_hosts * site.articles_per_host * site.figs_per_article
    # every dup_every-th article reuses an image, so fewer distinct hashes
    assert len(hashes) < n_images
    assert min(hamming64(x, y) for i, x in enumerate(hashes) for y in hashes[i + 1:]) >= 12


def test_tables_are_deterministic_per_seed(tmp_path):
    write_tables(str(tmp_path / "a"), 9)
    write_tables(str(tmp_path / "b"), 9)
    write_tables(str(tmp_path / "c"), 10)
    for name in ("documents", "events", "orders"):
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
        assert not ta.equals(pq.read_table(tmp_path / "c" / f"{name}.parquet"))


# --- checkers -----------------------------------------------------------------------

def _correct_crawl(site: Site):
    """The tables a correct crawl of ``site`` commits."""
    from tests.reference_sim import simulate_crawl

    pages = {u: v[:2] for u, v in _pages(site).items() if not u.endswith(".png")}
    golden, _, _ = simulate_crawl(site.seeds(), pages, parsed_ts=PARSED_TS)
    arts = pd.DataFrame([g for g in golden if g["url"] in set(site.article_urls())])
    front = pd.DataFrame(
        [(u, "article", "fetched") for u in site.article_urls()]
        + [(u, "article", "blocked") for u in site.blocked_urls()],
        columns=["url", "kind", "state"])
    return arts, sorted(site.expected_phashes()), front


def test_crawl_checker_accepts_a_correct_crawl():
    site = Site(seed=4, **SMALL)
    res = Result()
    check_crawl(site, *_correct_crawl(site), res)
    assert res.failed == 0, res.mismatches
    assert res.attempted > len(site.article_urls())


@pytest.mark.parametrize("corruption", [
    "drop_article", "extra_article", "edit_text", "drop_phash", "dup_phash",
    "fetched_blocked",
])
def test_crawl_checker_rejects_a_corrupted_table(corruption):
    site = Site(seed=4, **SMALL)
    arts, phashes, front = _correct_crawl(site)
    if corruption == "drop_article":
        arts = arts.iloc[1:]
    elif corruption == "extra_article":
        extra = arts.iloc[:1].copy()
        extra["url"] = "https://elsewhere.example/artikel/a0"
        arts = pd.concat([arts, extra])
    elif corruption == "edit_text":
        arts = arts.copy()
        arts.loc[arts.index[0], "text"] = "verändert"
    elif corruption == "drop_phash":
        phashes = phashes[1:]
    elif corruption == "dup_phash":
        phashes = phashes + phashes[:1]
    elif corruption == "fetched_blocked":
        front = front.copy()
        front.loc[front["state"] == "blocked", "state"] = "fetched"
    res = Result()
    check_crawl(site, arts, phashes, front, res)
    assert res.failed >= 1


def test_query_checker_rejects_a_corrupted_result():
    oracle = {"q": pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})}
    ok = Result()
    check_queries({"q": oracle["q"].iloc[::-1].copy()}, oracle, ok)  # order-insensitive
    assert ok.failed == 0
    for bad in (oracle["q"].iloc[:2], oracle["q"].assign(v=[0.5, 1.5, 9.0]),
                oracle["q"].rename(columns={"v": "w"})):
        res = Result()
        check_queries({"q": bad}, oracle, res)
        assert res.failed == 1


# --- metric names ---------------------------------------------------------------------

def _spec() -> dict:
    return run.load_spec()


def test_end_to_end_metrics_match_the_spec():
    res = Result(setup_s=[1.0], work_s=[2.0], work_cpu_s=[6.0], steps={"r0": 0.5},
                 step_cpu_s={"r0": 1.5})
    spec = _spec()
    got = run.end_to_end(res, 2**20, pace_s=2.0)
    assert set(got) == {m["name"] for m in spec["end_to_end"]}
    assert got == {"work_cpu_s": 3.0, "step_cpu_s_p50": 0.75, "setup_s": 0.5,
                   "peak_pss_mb": 1.0}
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in spec["end_to_end"])}]


class _NoSpark:
    def setLocalProperty(self, key, value):
        pass


def test_per_layer_metrics_match_the_spec():
    names = {m["name"] for m in _spec()["per_layer"]}
    tracer = Tracer(_NoSpark())
    tracer.harvest = lambda: {"jobs_by_scope": {}, "arrow": (0, 0.0, 0.0)}

    class Probe:
        commits = bytes_written = live_max = 0

    crawl = crawl_layer_metrics(tracer, set(), 0.0, {}, Probe())
    queries = {f"{kind}.{q}" for q in bench_queries()
               for kind in ("query_s", "query_jobs", "query_shuffle_bytes", "query_spill_bytes")}
    produced = {k for k in crawl if not k.startswith("split.")} | queries
    assert produced | {"trace.work_s", "trace.bookkeeping_s"} == names
    res = Result(work_s=[1.0], layer=crawl)
    assert set(run.per_layer(res, _spec(), tracer)) == names


def test_spec_is_well_formed():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_spans_nest_and_split_the_wall():
    tracer = Tracer(_NoSpark())
    tracer.set_scope("r0")
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    outer, inner = tracer.layers["outer"], tracer.layers["inner"]
    assert outer.total_s >= inner.total_s
    assert outer.self_s + inner.self_s == pytest.approx(outer.total_s)
    assert set(tracer.groups) == {"r0|-", "r0|outer", "r0|inner"}


# --- child processes --------------------------------------------------------------------

def test_reaper_waits_for_orphaned_grandchildren():
    """A grandchild whose parent exited is inherited and stopped; nothing is
    left behind. Runs in its own interpreter, which becomes a subreaper."""
    code = (
        "import subprocess, os\n"
        "from perfbench.probes import adopt_orphans, reap_children, _children\n"
        "adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & exit 0'], check=True)\n"
        "print(len(_children().get(os.getpid(), [])))\n"
        "print(len(reap_children(grace_s=0.5, term_s=2)))\n"
        "print(len(_children().get(os.getpid(), [])))\n"
    )
    root = os.path.dirname(os.path.dirname(run.__file__))
    out = subprocess.run([sys.executable, "-c", code], cwd=root, capture_output=True,
                         text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["1", "1", "0"]


def test_pace_probe_leaves_no_process():
    code = (
        "import os\n"
        "from perfbench import probes\n"
        "probes.PACE_OPS = 1000\n"
        "assert probes.pace_probe_s() > 0\n"
        "print(len(probes._children().get(os.getpid(), [])))\n"
    )
    root = os.path.dirname(os.path.dirname(run.__file__))
    out = subprocess.run([sys.executable, "-c", code], cwd=root, capture_output=True,
                         text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["0"]


# --- refusal outside a checkout ---------------------------------------------------------

def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(run.SPEC_PATH, tmp_path / "BENCHMARK.json")
    shutil.copytree(os.path.dirname(run.__file__), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_rounds", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert "{" not in out.stdout
