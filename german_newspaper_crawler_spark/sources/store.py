"""Snapshot table store — the engine's table layer.

Production target is an Iceberg catalog (``MERGE INTO`` / snapshots /
``bucket(N, host)`` partition specs, as designed in SURVEY §2.1 K1/K2 and
§2.11 G7). The sandbox has no Iceberg runtime jars, so this module provides
the same narrow contract over parquet directories with an atomic
manifest-swap commit:

* every commit writes parquet data files into a new ``snap-NNNNNN/`` dir,
* the table's current state is a JSON manifest listing live snapshot dirs,
* ``os.replace`` of the manifest file is the atomic commit point,
* readers resolve the manifest → read only live dirs (time travel = read an
  older manifest entry; resume = the latest committed manifest, exactly the
  Iceberg snapshot-checkpoint semantics the north rule requires).

Appends add a snapshot dir to the live set; overwrites replace the live set;
``merge_delta`` adds a keyed delta dir that replaces same-key rows at read
time (MERGE semantics without rewriting the table).

Every commit to a table carries that table's one column set (the fixed
schemas in ``schemas.py`` and the operators' output schemas), so reads
neither merge parquet footers nor fill in missing columns.

Consistency note: commits are atomic PER TABLE (like Iceberg without a
multi-table transaction). The crawl loop orders its writes so a crash
between tables is safe: articles MERGE first (idempotent on content_hash),
then seen append — a crash in between re-crawls at most one batch on resume
and the MERGE re-converges; it can never lose rows or produce duplicates.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest helpers ---------------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "manifest.json")

    def _read_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {"snapshots": [], "live": [], "seq": 0}
        with open(p) as f:
            return json.load(f)

    def _commit(self, table: str, manifest: dict) -> None:
        tmp = self._manifest_path(table) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(table))  # atomic commit point

    # -- public API -----------------------------------------------------------
    def exists(self, table: str) -> bool:
        return bool(self._read_manifest(table)["live"])

    def snapshot_id(self, table: str) -> int:
        return self._read_manifest(table)["seq"]

    def read(self, spark: SparkSession, table: str, schema: StructType | None = None) -> DataFrame:
        m = self._read_manifest(table)
        if not m["live"]:
            if schema is None:
                raise FileNotFoundError(f"table {table} is empty and no schema given")
            return spark.createDataFrame([], schema)
        return self._resolve(spark, table, m, m["live"])

    def _resolve(self, spark: SparkSession, table: str, m: dict, live: list[str]) -> DataFrame:
        """Resolve a live snapshot set to a DataFrame, applying merge-on-read.

        Plain tables (no ``merge-delta`` commits) read as a straight multi-dir
        parquet scan. Tables with delta commits resolve Iceberg
        equality-delete style: the (small) deltas are deduped last-wins by
        key, then the base scan anti-joins the delta keys — AQE broadcasts
        the delta side, so the base table is never shuffled and write volume
        stayed ∝ |batch| at commit time.
        """
        tdir = self._tdir(table)
        keys = m.get("merge_keys")
        op_of = {s["dir"]: s["op"] for s in m["snapshots"]}
        delta_dirs = [d for d in live if op_of.get(d) == "merge-delta"]
        base_dirs = [d for d in live if op_of.get(d) != "merge-delta"]

        def read_dirs(dirs: list[str]) -> DataFrame:
            paths = [os.path.join(tdir, d) for d in dirs]
            if not m.get("partition_spec"):
                return spark.read.parquet(*paths)
            # hive-partitioned snapshots: each snapshot dir is its own
            # partition root — read separately and union (Spark refuses
            # multi-root partition discovery); per-scan partition pruning
            # is preserved, compaction keeps the union short
            out = None
            for p in paths:
                part = spark.read.option("basePath", p).parquet(p)
                out = part if out is None else out.unionByName(part)
            return out

        if not keys or not delta_dirs:
            return read_dirs(live)

        from pyspark.sql import Window, functions as F

        deltas = None
        for ord_, d in enumerate(delta_dirs):
            part = spark.read.parquet(os.path.join(tdir, d)).withColumn(
                "_snap_ord", F.lit(ord_)
            )
            deltas = part if deltas is None else deltas.unionByName(part)
        w = Window.partitionBy(*keys).orderBy(F.col("_snap_ord").desc())
        latest = (
            deltas.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_snap_ord", "_rn")
        )
        if not base_dirs:
            return latest
        base = read_dirs(base_dirs)
        return base.join(latest.select(*keys), keys, "left_anti").unionByName(latest)

    def set_partition_spec(self, table: str, cols: list[str],
                           sort_cols: list[str] | None = None) -> None:
        """K2 index maintenance (``ensure_indexes_for_collections``,
        ``mongodb.py:160-177``) as its Iceberg-shaped analog: a declarative
        table spec — hive-partition columns (→ partition pruning on reads)
        plus an optional within-file sort order (→ tighter parquet min/max
        column metrics, the row-group-skipping "index"). Applied to every
        subsequent snapshot write; :meth:`compact` rewrites the whole live
        set under the current spec (rewrite_data_files analog)."""
        m = self._read_manifest(table)
        m["partition_spec"] = {"cols": cols, "sort_cols": sort_cols or []}
        os.makedirs(self._tdir(table), exist_ok=True)
        self._commit(table, m)

    def _write_snapshot(self, table: str, df: DataFrame) -> str:
        m = self._read_manifest(table)
        snap = f"snap-{m['seq'] + 1:06d}-{uuid.uuid4().hex[:8]}"
        spec = m.get("partition_spec")
        writer = df
        if spec and spec.get("sort_cols"):
            writer = writer.sortWithinPartitions(*spec["sort_cols"])
        w = writer.write.mode("errorifexists")
        if spec and spec.get("cols"):
            w = w.partitionBy(*spec["cols"])
        w.parquet(os.path.join(self._tdir(table), snap))
        return snap

    def append(self, table: str, df: DataFrame, op: str = "append") -> int:
        snap = self._write_snapshot(table, df)
        m = self._read_manifest(table)
        m["seq"] += 1
        m["live"].append(snap)
        m["snapshots"].append({"id": m["seq"], "dir": snap, "op": op, "ts": time.time(), "live": list(m["live"])})
        self._commit(table, m)
        return m["seq"]

    def overwrite(self, table: str, df: DataFrame, op: str = "overwrite") -> int:
        snap = self._write_snapshot(table, df)
        m = self._read_manifest(table)
        m["seq"] += 1
        m["live"] = [snap]
        m["snapshots"].append({"id": m["seq"], "dir": snap, "op": op, "ts": time.time(), "live": [snap]})
        self._commit(table, m)
        return m["seq"]

    def merge_delta(self, table: str, batch: DataFrame, keys: list[str]) -> int:
        """Keyed MERGE that writes ONLY the batch (Iceberg merge-on-read /
        equality-delete analog): batch rows replace same-key rows from earlier
        snapshots at read time. Write volume is ∝ |batch|, not |table| — the
        point of K1/G4 at 10^10-row frontier scale, where rewriting the whole
        table per crawl round is ~TBs of churn.

        Contract (matches how Iceberg sequence-numbers would resolve it, and
        what the crawl loop guarantees): rows ``append``-ed after a delta
        commit must carry keys not present in any live delta — updates to an
        existing key go through ``merge_delta`` only. Run :meth:`compact`
        periodically to fold deltas back into one base file set.

        Merge-key values must be NON-NULL: read-time resolution windows on
        the keys, so a null-keyed row would land in the all-nulls window
        partition and silently collapse to a single arbitrary survivor.
        Enforced here with a plan-side filter (no extra action — counting
        would re-execute the batch lineage, e.g. a fetch stage); null-keyed
        rows are dropped at the write boundary instead of lost at read time.
        """
        from pyspark.sql import functions as F

        for kcol in keys:
            batch = batch.where(F.col(kcol).isNotNull())
        snap = self._write_snapshot(table, batch)
        m = self._read_manifest(table)
        m["seq"] += 1
        m["live"].append(snap)
        prev = m.get("merge_keys")
        if prev and prev != keys:
            raise ValueError(f"{table} merge keys {prev} != {keys}")
        m["merge_keys"] = keys
        m["snapshots"].append(
            {"id": m["seq"], "dir": snap, "op": "merge-delta", "ts": time.time(),
             "live": list(m["live"])}
        )
        self._commit(table, m)
        return m["seq"]

    def compact(self, spark: SparkSession, table: str) -> int:
        """Compact the live set into one snapshot (Iceberg rewrite_data_files
        analog — G7 compaction cadence; frequent crawl rounds otherwise
        accumulate many small appends and metadata pressure)."""
        if not self.exists(table):
            return self.snapshot_id(table)
        return self.overwrite(table, self.read(spark, table), op="compact")

    def prune_live(self, table: str, keep_last: int) -> int:
        """Retention: DROP the oldest live snapshots, keeping the newest
        ``keep_last`` (log-rotation / TTL-retention analog — deletes data,
        unlike :meth:`expire_snapshots`, which only removes unreferenced
        dirs). Append-only tables only: pruning a merge-delta table would
        drop base rows the deltas still reference."""
        m = self._read_manifest(table)
        if m.get("merge_keys"):
            raise ValueError(f"prune_live on merge-delta table {table}")
        if len(m["live"]) <= keep_last:
            return 0
        dropped = len(m["live"]) - keep_last
        m["seq"] += 1
        m["live"] = m["live"][-keep_last:]
        m["snapshots"].append(
            {"id": m["seq"], "dir": m["live"][-1] if m["live"] else "",
             "op": "prune", "ts": time.time(), "live": list(m["live"])}
        )
        self._commit(table, m)
        return dropped

    def expire_snapshots(self, table: str, keep_last: int = 3) -> int:
        """Drop unreferenced snapshot dirs older than the last ``keep_last``
        manifest entries (Iceberg expire_snapshots analog). Time travel stays
        available for the kept window. Returns dirs removed; no-op for a
        table that has never committed."""
        import shutil

        if not os.path.isdir(self._tdir(table)):
            return 0
        m = self._read_manifest(table)
        keep_dirs = set(m["live"])
        for s in m["snapshots"][-keep_last:]:
            keep_dirs.update(s["live"])
        removed = 0
        kept_meta = []
        for s in m["snapshots"]:
            if s["dir"] in keep_dirs or s in m["snapshots"][-keep_last:]:
                kept_meta.append(s)
            else:
                path = os.path.join(self._tdir(table), s["dir"])
                if os.path.exists(path):
                    shutil.rmtree(path)
                    removed += 1
        m["snapshots"] = kept_meta
        self._commit(table, m)
        return removed

    def read_at(self, spark: SparkSession, table: str, snapshot_id: int) -> DataFrame:
        """Time travel: read the table as of a committed snapshot id."""
        m = self._read_manifest(table)
        for s in m["snapshots"]:
            if s["id"] == snapshot_id:
                return self._resolve(spark, table, m, s["live"])
        raise KeyError(f"snapshot {snapshot_id} not found for {table}")
