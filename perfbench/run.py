#!/usr/bin/env python3
"""Crawl-loop and dedup-query benchmark.

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 10 --trace 0

Runs one workload on ``local[4]`` from the root of a checkout, prints every
metric by name with its unit, and ends with one JSON line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` wraps the layers' entry points and reports the per-layer
metrics instead. Scratch files go under ``.perfbench_work/`` in the
checkout and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
CORES = 4
HEAP = "2g"


def load_spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


# --- session ----------------------------------------------------------------------

def confine(work_dir: str) -> None:
    """Keep every file the run writes inside ``work_dir``, and let Spark's
    Python workers import the package and ``perfbench`` from the checkout."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp


def start_spark(work_dir: str):
    tmp = os.path.join(work_dir, "tmp")
    from german_newspaper_crawler_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": HEAP,
            # no /tmp/hsperfdata file: all temporary files stay in the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(work_dir, "local"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a run for the traced harvest
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context and the JVM, and wait for the JVM to exit. The JVM
    is stopped even if the context cannot be (say, a signal cut a gateway
    call short)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            finally:
                if proc is not None:
                    if proc.stdin:
                        proc.stdin.close()  # the JVM exits when its stdin closes
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:  # never leave the JVM behind
                        proc.kill()
                        proc.wait()


# --- metrics ----------------------------------------------------------------------

def raw_times(res) -> dict[str, float]:
    return {
        "setup_s": statistics.median(res.setup_s),
        "work_s": statistics.median(res.work_s),
        "step_s_p50": statistics.median(res.steps.values()),
        "work_cpu_s": statistics.median(res.work_cpu_s),
        "step_cpu_s_p50": statistics.median(res.step_cpu_s.values()),
    }


def end_to_end(res, peak_pss: int, pace_s: float) -> dict[str, float]:
    """Seconds are divided by the pace probe's wall (about 1 s on an idle
    host), so they read as seconds at a fixed host pace; see probes.py.
    The work is reported as the process tree's CPU seconds: on a shared
    host they hold still where wall time does not (README.md)."""
    raw = raw_times(res)
    return {
        "work_cpu_s": raw["work_cpu_s"] / pace_s,
        "step_cpu_s_p50": raw["step_cpu_s_p50"] / pace_s,
        "setup_s": raw["setup_s"] / pace_s,
        "peak_pss_mb": peak_pss / 2**20,
    }


def per_layer(res, spec: dict, tracer) -> dict[str, float]:
    got = dict(res.layer)
    # compare with work_s of an untraced run for the tracing overhead
    got["trace.work_s"] = statistics.median(res.work_s)
    got["trace.bookkeeping_s"] = tracer.bookkeeping_s
    return {m["name"]: float(got.get(m["name"], 0.0)) for m in spec["per_layer"]}


def on_sigterm(*_) -> None:
    """Unwind through main's clean-up, as on any other exit; ignore a
    second SIGTERM so it cannot cut that clean-up short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(128 + signal.SIGTERM)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import german_newspaper_crawler_spark  # noqa: F401
        import tests.oracle_check  # noqa: F401
        import tests.reference_sim  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package and its tests must sit beside perfbench/ ({exc})",
              file=sys.stderr)
        return 2
    from perfbench.probes import MemorySampler, adopt_orphans, pace_probe_s, reap_children
    from perfbench.workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    spec = load_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    confine(work_dir)
    adopt_orphans()
    signal.signal(signal.SIGTERM, on_sigterm)
    ctx = Context(lambda: start_spark(work_dir), args.seed, args.seconds, work_dir,
                  trace=bool(args.trace))
    try:
        pace = [pace_probe_s()]
        with MemorySampler() as mem:
            res = WORKLOADS[args.workload](ctx)
        pace.append(pace_probe_s())
    finally:
        try:
            if ctx.session is not None:
                stop_spark(ctx.session)
        finally:
            # no process this run started (JVM, Spark's Python daemon and
            # workers, pace probes) may outlive it
            for what in reap_children():
                print(f"perfbench: had to stop {what}", file=sys.stderr)
            shutil.rmtree(work_dir, ignore_errors=True)

    pace_s = statistics.mean(pace)
    metrics = (per_layer(res, spec, ctx.tracer) if args.trace
               else end_to_end(res, mem.peak, pace_s))
    res.phases = {"spark start": ctx.spark_start_s, "set-up": sum(res.setup_s),
                  "measured": sum(res.work_s), **res.phases}
    for what in res.mismatches:
        print(f"MISMATCH {what}")
    print(f"workload {args.workload} seed {args.seed}: {len(res.work_s)} unit(s) of work, "
          f"failed_share {res.failed / max(res.attempted, 1):.4f} "
          f"({res.failed} of {res.attempted} checks)")
    print("  phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in res.phases.items()))
    print(f"  host steal {100 * statistics.median(res.steal_share):.1f}%, "
          f"pace probe before/after {pace[0]:.3f}/{pace[1]:.3f} s")
    print("  raw: " + ", ".join(f"{k} {v:.4f}" for k, v in raw_times(res).items()))
    print("  steps (wall/cpu s): " + ", ".join(
        f"{k} {v:.2f}/{res.step_cpu_s[k]:.1f}" for k, v in res.steps.items()))
    extra = {k: v for k, v in res.layer.items() if k not in metrics} if args.trace else {}
    for name, value in {**metrics, **extra}.items():
        print(f"  {name:<44} {value:>16.6g} {units.get(name, 's' if name.startswith('split.') else '')}")
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
