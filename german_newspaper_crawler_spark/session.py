"""SparkSession factory tuned for the crawl/extract workload.

Centralizes the configuration that matters at 100 TB scale:

* AQE on (runtime coalesce + skew-join splitting),
* Arrow on for every pandas-UDF boundary (the only Python touchpoints),
* small Arrow batches when shipping multi-MB binary image rows
  (``maxRecordsPerBatch``) so a batch of rows fits in worker memory,
* shuffle partitions sized to the cluster (caller passes cores; a real
  cluster deployment would set this to 2-3x total cores).
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

# Python worker daemon that skips the per-task zip directory re-read
# (see daemon.py)
DAEMON_MODULE = "german_newspaper_crawler_spark.daemon"


def _local_k(master: str, fallback: int) -> int:
    """Parse K from ``local[K]`` (``*`` → machine cores); cluster masters
    fall back to the configured cpu count."""
    if master.startswith("local[") and master.endswith("]"):
        n = master[6:-1]
        if n == "*":
            return os.cpu_count() or fallback
        try:
            return int(n)
        except ValueError:
            return fallback
    return fallback


def _heap(master: str, fallback_cpus: int) -> str:
    """Driver/executor heap sized to parallelism: 1.5g per local core,
    min 8g, capped at 48g. Env override: SPARK_GRAFT_DRIVER_MEM."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    k = _local_k(master, fallback_cpus)
    return f"{max(8, min(3 * k // 2, 48))}g"


def _heap_gib(heap: str) -> float:
    """'48g' / '4096m' → GiB (unparseable → inf, disabling pretouch)."""
    h = heap.strip().lower()
    try:
        if h.endswith("g"):
            return float(h[:-1])
        if h.endswith("m"):
            return float(h[:-1]) / 1024
        if h.endswith("k"):
            return float(h[:-1]) / (1024 * 1024)
        return float(h) / (1024**3)
    except ValueError:
        return float("inf")


def _pretouch_ok(heap: str) -> bool:
    """Whether to hard-commit the heap up front (-Xms=heap + AlwaysPreTouch).

    The pretouch pair is a large-box throughput win (see get_spark) but
    turns a lazily-committed >=8g heap into an up-front commit — on hosts
    with less free memory than the heap the JVM would fail at session start
    where lazy commit ran fine. Gate: MemAvailable must exceed heap + 2 GiB
    headroom. ``SPARK_GRAFT_PRETOUCH=1/0`` forces either way; platforms
    without /proc/meminfo keep the flags (the sandbox/cluster case).
    """
    env = os.environ.get("SPARK_GRAFT_PRETOUCH")
    if env is not None:
        return env not in ("0", "false", "no")
    avail = float("inf")
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail = int(line.split()[1]) / (1024 * 1024)
                    break
    except (OSError, ValueError, IndexError):
        pass
    return avail >= _heap_gib(heap) + 2.0


def _daemon_importable() -> bool:
    """Whether Spark's Python daemon can import :data:`DAEMON_MODULE`. The
    JVM starts it as ``python -m`` in this process's working directory
    with this process's PYTHONPATH, so the package must sit in a plain
    directory on that path. A package shipped only with ``--py-files``
    reaches the workers per task, after the daemon has started; those
    sessions keep pyspark's own daemon."""
    root = os.path.realpath(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    if not os.path.isdir(root):
        return False
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep) + site.getsitepackages()
    if not os.environ.get("PYTHONSAFEPATH"):
        paths.append(os.getcwd())
    return any(p and os.path.realpath(p) == root for p in paths)


def _use_package_daemon(master: str) -> bool:
    """Only a local master runs its Python daemon on this host, in this
    process's working directory; executors of a cluster master
    (``spark://``, ``yarn``, ``local-cluster[...]``) may not have the
    package on their path, so they keep pyspark's own daemon."""
    return (master == "local" or master.startswith("local[")) and _daemon_importable()


def get_spark(
    app_name: str = "german_newspaper_crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_max_records_per_batch: int = 2048,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback 32)
    for the sandbox; on a real cluster callers pass ``None`` after
    configuring via spark-submit and master is left untouched.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core keeps every stage wide
        # without tiny-task overhead; cluster mode should use 2-3x cores.
        n = master[master.index("[") + 1 : -1] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)

    # resolve the heap ONCE — an extra_conf driver-memory override must
    # also size -Xms, or the pretouch flag below would ask for more than
    # -Xmx and kill the JVM at initialization
    heap = (extra_conf or {}).get("spark.driver.memory") or _heap(master, cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime (post-shuffle, measured-size) broadcast decisions up to
        # 64 MB: the dedup verify joins probe a per-doc array table that is
        # tens of MB at bench scale — a 64 MB broadcast is cheap against
        # any executor sized for this workload and replaces a full shuffle
        # of the (much larger) candidate stream. Static estimates stay at
        # the 10 MB default; this only widens decisions AQE makes from
        # exact stage sizes, and oversized sides still fall back to
        # sort-merge at cluster scale.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(arrow_max_records_per_batch),
        )
        # binary image rows are large; keep file-split sizing moderate so a
        # scan task's partition fits executor memory at 100 TB inputs.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # heap scales with cores (min 8g, capped 48g so concurrent
        # subprocess JVMs can't overcommit the 128 GiB box): allocation
        # rate is proportional to task parallelism, and an N→4N executor
        # scale-up brings 4N heaps on a real cluster — a fixed heap at
        # high core counts turns GC into a false serial bottleneck
        .config("spark.driver.memory", heap)
        # cached round batches carry html_gz / image bytes that are already
        # deflate-compressed — columnar re-compression is pure CPU waste
        # (measured ~12% of the fused crawl stage); cache footprint stays
        # bounded by the round's pop budget, not the corpus
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # ParallelGC: the enrichment stages allocate hundreds of millions of
    # short-lived structs; G1's concurrent machinery collapses under 32
    # allocation-heavy task threads (measured 8x slower than ParallelGC on
    # the pos-tag transform). -Xms=heap + AlwaysPreTouch: commit and zero
    # the whole heap at JVM start — a lazily-committed large heap
    # page-faults INSIDE the hot stages (measured 2.6x on a pure codegen
    # stage at 16 cores, 32g heap: 9.0 -> 23.3M rows/s); gated on free
    # memory so small hosts keep lazy commit (_pretouch_ok). On a cluster
    # the same flags go to spark.executor.extraJavaOptions. User-supplied
    # extraJavaOptions are MERGED after ours (JVM last-flag-wins lets
    # callers override individual flags without losing the GC/heap tuning).
    java_opts = "-XX:+UseParallelGC"
    if _pretouch_ok(heap):
        java_opts += f" -Xms{heap} -XX:+AlwaysPreTouch"
    conf = dict(extra_conf or {})
    user_java = conf.pop("spark.driver.extraJavaOptions", None)
    if user_java:
        java_opts = f"{java_opts} {user_java}"
    builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    if _use_package_daemon(master):
        builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
