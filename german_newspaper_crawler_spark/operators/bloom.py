"""Mergeable per-partition Bloom filter for the URL-seen set (graft G1).

Reference behavior replaced: the exact in-memory ``Set[str]`` of sha256
digests (``scr/german_newspaper_crawler.py:66-74``). At 10^10 URLs the exact
set lives in the ``seen`` table and the anti-join (J1) remains the
**authority**; the Bloom filter is only a negative-cache accelerator — a
membership "no" skips the join for the (overwhelmingly common) fresh URL,
a "yes" falls through to the exact check. False positives therefore cost a
join lookup, never a wrong answer.

Design:
* plain numpy bit array; k hash probes derived from the two halves of the
  row's sha256 (Kirsch-Mitzenmacher double hashing) — no external libs,
* built distributedly: ``applyInPandas`` per bucket builds one filter blob
  per partition; blobs merge by OR (associative, so partial filters from
  incremental runs union cleanly),
* persisted as binary rows ``(bucket, blob, n_items, k, m)`` in the store —
  hydrated per fetch/dedup round and applied inside the Arrow batch.

Why Spark's built-in runtime bloom-join is insufficient (SURVEY §4.2): it
lives only within one query's runtime; this filter must persist across crawl
rounds and runs.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StructField, StructType,
)

from german_newspaper_crawler_spark.functions.hashing import hash64

# The seen-set filters' bucket count and target false-positive rate. The
# bucket count is part of the persisted ``blooms`` table — a digest probes
# the blob of bucket ``seen_bucket(h)`` — so it is fixed here, never passed.
SEEN_BUCKETS = 16
SEEN_FPR = 0.01

BLOOM_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("blob", BinaryType(), False),
        StructField("n_items", LongType(), False),
        StructField("k", IntegerType(), False),
        StructField("m", LongType(), False),
    ]
)


def params_for(n_items: int, fpr: float = 0.01) -> tuple[int, int]:
    """(m bits, k hashes) for a target false-positive rate."""
    n = max(n_items, 1)
    m = max(64, int(-n * math.log(fpr) / (math.log(2) ** 2)))
    m = (m + 63) // 64 * 64
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _probe_positions(hashes: pd.Series, m: int, k: int) -> np.ndarray:
    """(len, k) probe bit positions from sha256 hex digests (vectorized).

    h_i = (h1 + i*h2) mod m with h1/h2 from the first/second 15 hex chars —
    standard double hashing; identical across build and query sides.
    """
    h1 = hashes.str.slice(0, 15).apply(int, base=16).to_numpy(dtype=np.uint64)
    h2 = hashes.str.slice(15, 30).apply(int, base=16).to_numpy(dtype=np.uint64)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m)).astype(np.int64)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.ravel()
    np.bitwise_or.at(bits, flat >> 3, (1 << (flat & 7)).astype(np.uint8))


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """row-wise AND over k probes → bool array (possibly-present)."""
    byte = bits[pos >> 3]
    hit = (byte & (1 << (pos & 7)).astype(np.uint8)) != 0
    return hit.all(axis=1)


def build_bloom(
    seen: DataFrame, hash_col: str, bucket_col, m: int, k: int
) -> DataFrame:
    """Build one Bloom blob per bucket from a DataFrame of hex digests.
    ``bucket_col`` is any Column expression (e.g. pmod(hash64(host), P))."""
    src = seen.select(F.col(hash_col).alias("h"), bucket_col.alias("bucket"))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m // 8, dtype=np.uint8)
        if len(pdf):
            _set_bits(bits, _probe_positions(pdf["h"], m, k))
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0]) if len(pdf) else -1],
                "blob": [bits.tobytes()],
                "n_items": [len(pdf)],
                "k": [k],
                "m": [m],
            }
        )

    return src.groupBy("bucket").applyInPandas(build, schema=BLOOM_SCHEMA)


def merge_bloom_tables(blooms: DataFrame) -> DataFrame:
    """Collapse multiple blob generations per bucket into one (OR)."""

    def or_blobs(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.frombuffer(pdf["blob"].iloc[0], np.uint8).copy()
        for blob in pdf["blob"].iloc[1:]:
            bits |= np.frombuffer(blob, np.uint8)
        out = pdf.iloc[[0]].copy()
        out["blob"] = [bits.tobytes()]
        out["n_items"] = [int(pdf["n_items"].sum())]
        return out

    return blooms.groupBy("bucket").applyInPandas(or_blobs, schema=BLOOM_SCHEMA)


def bloom_prefilter(
    candidates: DataFrame,
    blooms: DataFrame,
    hash_col: str,
    bucket_col,
) -> DataFrame:
    """Split candidates into (definitely-fresh, maybe-seen).

    Adds a ``maybe_seen`` boolean: False → provably not in the seen set
    (skip the exact anti-join for these rows); True → must fall through to
    the exact check. The blob join is a broadcast (one small row per bucket).
    """
    cand = candidates.withColumn("__bucket", bucket_col)
    joined = cand.join(
        F.broadcast(blooms.withColumnRenamed("bucket", "__bucket")),
        "__bucket",
        "left",
    )

    @F.pandas_udf("boolean")
    def test(h: pd.Series, blob: pd.Series, k: pd.Series, m: pd.Series) -> pd.Series:
        out = np.zeros(len(h), dtype=bool)
        if len(h) == 0:
            return pd.Series(out)
        has = blob.notna().to_numpy()
        groups: dict[bytes, np.ndarray] = {}
        for key in set(blob[has]):
            groups[key] = (blob == key).to_numpy() & has
        for key, mask in groups.items():
            bits = np.frombuffer(key, np.uint8)
            kk, mm = int(k[mask].iloc[0]), int(m[mask].iloc[0])
            pos = _probe_positions(h[mask], mm, kk)
            out[mask] = _test_bits(bits, pos)
        return pd.Series(out, index=h.index)

    return joined.withColumn(
        "maybe_seen",
        F.when(F.col("blob").isNull(), F.lit(False)).otherwise(
            test(F.col(hash_col), F.col("blob"), F.col("k"), F.col("m"))
        ),
    ).drop("blob", "k", "m", "n_items", "__bucket")


def seen_bucket(hash_col: Column | str) -> Column:
    """The seen-set bucket of a digest: ``pmod(hash64(h), SEEN_BUCKETS)``.
    The builders and :func:`split_maybe_seen` share it, so a probed digest
    always meets the blob its own insert went to."""
    return F.pmod(hash64(hash_col), F.lit(SEEN_BUCKETS)).cast("int")


def split_maybe_seen(
    df: DataFrame, blooms: DataFrame, hash_col: str
) -> tuple[DataFrame, DataFrame]:
    """``(fresh, maybe)``: rows whose ``hash_col`` digest is provably absent
    from the seen-set blooms, and rows that must fall through to the exact
    seen join. A NULL digest probes as the ``"0"*30`` hex sentinel; either
    half keeps such a row, since NULL never matches the exact join."""
    probe = df.withColumn("__h", F.coalesce(F.col(hash_col), F.lit("0" * 30)))
    probed = bloom_prefilter(probe, blooms, "__h", seen_bucket("__h"))
    fresh = probed.where(~F.col("maybe_seen")).drop("maybe_seen", "__h")
    maybe = probed.where(F.col("maybe_seen")).drop("maybe_seen", "__h")
    return fresh, maybe


def capacity_of(m: int, fpr: float) -> int:
    """Inverse of :func:`params_for`: the item count an m-bit filter was
    sized for at the target FPR."""
    return max(1, int(m * (math.log(2) ** 2) / -math.log(fpr)))


def ensure_blooms(
    spark,
    store,
    seen: DataFrame,
    hash_col: str = "content_hash",
    fpr: float = SEEN_FPR,
) -> DataFrame | None:
    """Persistent incremental Bloom maintenance (G1 at the 10^10 regime).

    The naive form rebuilds the filter from the FULL seen set every crawl
    round — a full-table scan per round, which is exactly the cost the
    filter exists to avoid. Instead the blobs live in the store's ``blooms``
    table: per-round additions are committed as same-(m,k) delta blobs over
    only the NEW hashes (:func:`update_blooms`, write ∝ batch), OR-merged at
    read time (merge is associative/commutative, so incremental == full
    rebuild bit-for-bit — property-tested). A full rebuild happens only when
    the accumulated item count outgrows the capacity the current ``m`` was
    sized for (then at 2× headroom) — amortized O(1) scans, like a growing
    hash table.

    Blobs are bucketed by :func:`seen_bucket` (``SEEN_BUCKETS`` buckets).
    Returns the merged per-bucket blobs, or None when there is nothing yet.
    """
    existing = store.read(spark, "blooms", BLOOM_SCHEMA) if store.exists("blooms") else None
    if existing is not None:
        head = existing.select("m", "k").first()
        # head is None when a bootstrap ever committed zero blob rows (e.g.
        # an all-null-hash batch) — treat as missing and rebuild below
        if head is not None:
            total = existing.agg(F.sum("n_items").alias("t")).first()["t"] or 0
            if total <= capacity_of(int(head["m"]), fpr):
                return merge_bloom_tables(existing)
    # (re)build from the full seen set, sized with 2x headroom
    n_seen = seen.count()
    if not n_seen:
        return None
    m, k = params_for(max(2 * n_seen, 4096), fpr)
    blobs = build_bloom(seen, hash_col, seen_bucket(hash_col), m, k)
    store.overwrite("blooms", blobs, op="bloom-rebuild")
    return merge_bloom_tables(store.read(spark, "blooms"))


def update_blooms(
    spark,
    store,
    new_hashes: DataFrame,
    hash_col: str = "content_hash",
    fpr: float = SEEN_FPR,
) -> None:
    """Append same-(m,k) delta blobs for this round's NEW hashes — write and
    scan ∝ batch size. Bootstraps the base filter from the first batch when
    the table doesn't exist yet (sized with generous headroom at the
    configured ``fpr``; :func:`ensure_blooms` re-sizes on overflow later)."""
    bucket = seen_bucket(hash_col)
    head = (
        store.read(spark, "blooms").select("m", "k").first()
        if store.exists("blooms")
        else None
    )
    if head is None:  # missing table, or a prior zero-row bootstrap commit
        n = new_hashes.count()
        if not n:
            return
        m, k = params_for(max(16 * n, 4096), fpr=fpr)
        store.append(
            "blooms", build_bloom(new_hashes, hash_col, bucket, m, k),
            op="bloom-rebuild",
        )
        return
    delta = build_bloom(new_hashes, hash_col, bucket, int(head["m"]), int(head["k"]))
    store.append("blooms", delta, op="bloom-delta")
