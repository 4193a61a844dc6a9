"""Structured run-log surface — the reference's rotating file log, re-shaped
for a cluster (VERDICT r1 "what's missing" #4).

Reference behavior replaced: ``lib/common/logging.py`` — per-process
rotating file handlers (``:78-80``) with a line format of
``ts | level | logger:line | message``. File logs don't compose across 1000
executors; the Spark-native analog is a **logs table**: structured rows
(run_id, round, ts, level, stage, event, payload-json) appended to the
snapshot store per round, queryable next to the metrics table (G7) with
plain DataFrame ops.

Rotation analog: ``rotate()`` — drop log snapshots beyond a kept window via
the store's snapshot expiry (the same mechanism Iceberg deployments use),
bounding table size exactly like ``RotatingFileHandler``'s backupCount.

Driver-side by design: log events are per-round driver decisions (counts,
state transitions, refreshes) — a handful of rows per round, never per-URL.
Per-row outcomes stay IN the data (the frontier's state column), which is
the scalable place for them.
"""

from __future__ import annotations

import json
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, StringType, StructField, StructType, TimestampType,
)

LOGS = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("seq", IntegerType(), False),  # per-run emit order —
        # the injected deterministic clock (F10) can tie on ts
        StructField("round", IntegerType()),
        StructField("ts", TimestampType(), False),
        StructField("level", StringType(), False),
        StructField("stage", StringType(), False),
        StructField("event", StringType(), False),
        StructField("payload", StringType()),  # json blob, schema-free
    ]
)


class RunLogger:
    """Buffers structured log records; ``flush`` appends one small snapshot
    to the ``logs`` table (write ∝ events this round). The injected ``now``
    clock keeps runs deterministic (F10)."""

    def __init__(self, store, run_id: str, now: datetime | None = None):
        self.store = store
        self.run_id = run_id
        self.now = now
        self._seq = 0
        self._buf: list[tuple] = []

    def log(self, level: str, stage: str, event: str, round_no: int | None = None,
            **payload) -> None:
        ts = self.now or datetime.utcnow()
        self._buf.append(
            (self.run_id, self._seq, round_no, ts, level, stage, event,
             json.dumps(payload, sort_keys=True) if payload else None)
        )
        self._seq += 1

    def info(self, stage: str, event: str, round_no: int | None = None, **payload):
        self.log("INFO", stage, event, round_no, **payload)

    def warning(self, stage: str, event: str, round_no: int | None = None, **payload):
        self.log("WARNING", stage, event, round_no, **payload)

    def flush(self, spark: SparkSession) -> int:
        if not self._buf:
            return 0
        n = len(self._buf)
        self.store.append("logs", spark.createDataFrame(self._buf, LOGS))
        self._buf = []
        return n

    def rotate(self, keep_last: int = 50) -> int:
        """RotatingFileHandler.backupCount analog (logging.py:78-80): drop
        log snapshots beyond the kept window — old log DATA is discarded
        (prune_live), then the unreferenced dirs are expired from disk."""
        dropped = self.store.prune_live("logs", keep_last=keep_last)
        if dropped:
            self.store.expire_snapshots("logs", keep_last=1)
        return dropped


def read_logs(spark: SparkSession, store, run_id: str | None = None,
              level: str | None = None) -> DataFrame:
    """The `tail -f`/grep surface: logs as a DataFrame, filterable by run
    and level, ordered by (ts, round)."""
    df = store.read(spark, "logs", LOGS)
    if run_id is not None:
        df = df.where(F.col("run_id") == run_id)
    if level is not None:
        df = df.where(F.col("level") == level)
    return df.orderBy("ts", "run_id", "seq")
