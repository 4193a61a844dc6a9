#!/usr/bin/env python
"""Extra benchmarks for optimization work (guide §1.4 noop-sink isolation).

NOT part of the driver contract — bench.py stays frozen. This harness:

* times any registered query with the noop sink (`--query NAME [--reps N]`),
* dumps `.explain("formatted")` for queries (`--explain NAME --out FILE`).

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py --query dedup_ngram_jaccard
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def force(df):
    df.write.mode("overwrite").format("noop").save()


def get_session(cpus: int):
    from german_newspaper_crawler_spark.session import get_spark

    spark = get_spark(
        app_name="gncs-bench-extra", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm(spark, sf_dir):
    def _w(batches):
        yield from batches

    for tbl in ("orders", "lineitem", "documents", "events", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{tbl}.parquet").count()
    force(spark.range(1024).repartition(32).mapInPandas(_w, "id long"))


def explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", action="append", default=[])
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain", action="append", default=[])
    ap.add_argument("--out-dir", default="plans/r06")
    ap.add_argument("--suffix", default="")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    spark = get_session(cpus)
    warm(spark, sf_dir)

    from german_newspaper_crawler_spark.plans.queries import REGISTRY

    for name in args.explain:
        df = REGISTRY[name].spark(spark, sf_dir)
        os.makedirs(args.out_dir, exist_ok=True)
        path = os.path.join(args.out_dir, f"{name}{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(explain_str(df))
        print(f"wrote {path}")
        spark.catalog.clearCache()

    for name in args.query:
        spec = REGISTRY[name]
        # warm rep (untimed) then timed reps, min reported — mirrors bench.py
        reps = []
        for i in range(max(args.reps, 1) + 1):
            spark.sparkContext.setJobDescription(f"{name} rep{i}")
            t0 = time.monotonic()
            force(spec.spark(spark, sf_dir))
            dt = time.monotonic() - t0
            if i > 0:
                reps.append(dt)
            spark.catalog.clearCache()
        print(f"{name}: min={min(reps):.3f} reps={[round(r, 3) for r in reps]}")

    spark.stop()


if __name__ == "__main__":
    main()
