"""Dense, deterministic id assignment (W1/A3).

Reference: a process-wide thread-locked counter hands out ``_id`` in creation
order (``lib/common/object_model.py:11-27,189-193``), with the high-water mark
bumped to ``max(existing ids)`` on load (``object_model.py:23-27,310-317``).

Distributed formulation: ids are a *function of an explicit order key*, never
of execution order. A naive ``row_number() OVER (ORDER BY ...)`` collapses to
a single partition — unusable at 10^10 rows — so this is the classic
two-phase assignment:

1. range-partition + sort by the order key (a local checkpoint, so the
   sampled range bounds are computed once and both phases read the same
   rows; Spark's ContextCleaner frees its blocks with the result),
2. count rows per partition (tiny driver-side list, one long per partition),
3. a JVM projection adds ``cumulative_offset[pid] + local position``: the
   offset comes from a literal map keyed by partition id, the position from
   the low 33 bits of ``monotonically_increasing_id()`` (the row's index
   within its partition, per that function's documented bit layout).

The rows never cross into Python; the only driver materialization is the
per-partition count vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

# monotonically_increasing_id() keeps the row's index within its partition
# in the low 33 bits (the partition id is in the upper 31)
_ROW_IN_PARTITION = (1 << 33) - 1


def _range_sorted(df: DataFrame, key_cols: list[str], num_partitions: int | None) -> DataFrame:
    """``df`` range-partitioned and sorted by ``key_cols``, each row tagged
    with its partition id ``__pid``. Both functions below read it twice (a
    per-partition aggregate, then the id or running-sum pass), so they
    local-checkpoint it."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartitionByRange(parts, *[F.col(c) for c in key_cols])
        .sortWithinPartitions(*key_cols)
        .withColumn("__pid", F.spark_partition_id())
    )


def assign_ids(
    df: DataFrame,
    order_cols: list[str],
    offset: int = 0,
    id_col: str = "_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign dense ids ``offset+1, offset+2, ...`` in ``order_cols`` order."""
    ordered = _range_sorted(df, order_cols, num_partitions).localCheckpoint()
    # one row per partition — safe to collect at any scale
    counts = {
        r["__pid"]: r["n"]
        for r in ordered.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    }
    starts = []
    acc = offset
    for pid in sorted(counts):
        starts += [F.lit(pid), F.lit(acc).cast("long")]
        acc += counts[pid]
    row = F.monotonically_increasing_id().bitwiseAND(F.lit(_ROW_IN_PARTITION))
    _id = (
        F.element_at(F.create_map(*starts), F.col("__pid")) + row + 1
        if starts
        else F.lit(None).cast("long")  # no rows: no partition to look up
    )
    return ordered.select(_id.alias(id_col), "*").drop("__pid")


def grouped_cumsum(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    value_col: str,
    cum_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Running ``SUM(value)`` within ``group_col`` ordered by ``order_cols``
    — the scalable replacement for
    ``Window.partitionBy(group).orderBy(order).rowsBetween(unboundedPreceding,
    currentRow)``, which serializes each group onto ONE task. When one group
    dominates (``source='web'`` in a pre-training corpus is ~90% of rows),
    the window plan is a single-partition scan of ~all data — a 100 TB
    scale-killer. Same two-phase shape as :func:`assign_ids`:

    1. range-partition + sort by ``(group, *order)`` — contiguous slices,
    2. per-(partition, group) partial sums: a driver collect of
       ≈ ``num_partitions + num_groups`` rows (bounded at any scale),
    3. broadcast prefix offsets into a ``mapInPandas`` that accumulates
       locally (vectorized pandas groupby-cumsum per Arrow batch).

    Values are a pure function of ``(group, order)`` — partition boundaries
    never change the result, so the output is partition-count deterministic.
    Preconditions, both enforced: ``group_col`` must be non-null (a running
    sum "within group NULL" is ambiguous — raises ``ValueError``, detected
    on the already-collected partials so no extra job runs), and order keys
    must be unique within a group (ties make ANY running sum ill-defined —
    range partitioning co-locates equal keys and the partition sort makes
    duplicates adjacent, so a vectorized per-batch check plus a
    batch-boundary carry detects every violation worker-side).
    """
    ordered = _range_sorted(
        df, [group_col, *order_cols], num_partitions
    ).localCheckpoint()
    partials = (
        ordered.groupBy("__pid", group_col).agg(F.sum(value_col).alias("s")).collect()
    )
    if any(r[group_col] is None for r in partials):
        raise ValueError(
            f"grouped_cumsum: null values in group column {group_col!r} — "
            "filter them out or assign a sentinel group first"
        )
    offsets: dict[tuple[int, object], int] = {}
    cur_group: object = object()
    acc = 0
    for r in sorted(partials, key=lambda r: (r[group_col], r["__pid"])):
        if r[group_col] != cur_group:
            cur_group, acc = r[group_col], 0
        offsets[(r["__pid"], r[group_col])] = acc
        acc += int(r["s"])

    out_schema = StructType(
        list(df.schema.fields) + [StructField(cum_col, LongType(), False)]
    )
    key_cols = [group_col, *order_cols]

    def add_cumsum(batches):
        carried: dict = {}
        pid = None
        last_key = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["__pid"].iloc[0])
            dup = pdf.duplicated(subset=key_cols)
            first_key = tuple(pdf[c].iloc[0] for c in key_cols)
            if dup.any() or first_key == last_key:
                bad = first_key if first_key == last_key else tuple(
                    pdf.loc[dup.idxmax(), key_cols]
                )
                raise ValueError(
                    f"grouped_cumsum: duplicate order key {bad!r} — "
                    f"({group_col}, {order_cols}) must be unique per row"
                )
            last_key = tuple(pdf[c].iloc[-1] for c in key_cols)
            within = pdf.groupby(group_col, sort=False)[value_col].cumsum()
            bmap = {
                g: carried.get(g, offsets.get((pid, g), 0))
                for g in pdf[group_col].unique()
            }
            out = pdf.drop(columns=["__pid"])
            out[cum_col] = (within + pdf[group_col].map(bmap)).astype("int64")
            for g, v in out.groupby(group_col, sort=False)[cum_col].last().items():
                carried[g] = int(v)
            yield out

    return ordered.mapInPandas(add_cumsum, schema=out_schema)
