"""Bloom filter operator (G1): zero false negatives, bounded false
positives, OR-merge associativity, and the prefilter split semantics."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from german_newspaper_crawler_spark.functions.hashing import hash64
from german_newspaper_crawler_spark.operators import bloom


def sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


@pytest.fixture(scope="module")
def seen_df(spark):
    rows = [(sha(f"https://h{i % 7}.example/a{i}"), f"h{i % 7}.example") for i in range(2000)]
    return spark.createDataFrame(rows, ["content_hash", "host"])


def test_no_false_negatives_and_fpr(spark, seen_df):
    m, k = bloom.params_for(2000, fpr=0.01)
    blooms = bloom.build_bloom(
        seen_df, "content_hash", F.pmod(hash64("host"), F.lit(8)).cast("int"), m, k
    )
    assert blooms.count() <= 8

    # every seen hash must test maybe_seen=True (no false negatives)
    out = bloom.bloom_prefilter(
        seen_df, blooms, "content_hash", F.pmod(hash64("host"), F.lit(8)).cast("int")
    )
    assert out.where(~F.col("maybe_seen")).count() == 0

    # fresh hashes: false-positive rate near the design point
    fresh = spark.createDataFrame(
        [(sha(f"https://h{i % 7}.example/NEW{i}"), f"h{i % 7}.example") for i in range(2000)],
        ["content_hash", "host"],
    )
    fp = bloom.bloom_prefilter(
        fresh, blooms, "content_hash", F.pmod(hash64("host"), F.lit(8)).cast("int")
    ).where(F.col("maybe_seen")).count()
    assert fp / 2000 < 0.05  # design fpr 0.01 + slack


def test_merge_is_union(spark, seen_df):
    m, k = bloom.params_for(2000, fpr=0.01)
    bucket = F.pmod(hash64("host"), F.lit(4)).cast("int")
    half1 = seen_df.limit(1000)
    half2 = seen_df.subtract(half1)
    b1 = bloom.build_bloom(half1, "content_hash", bucket, m, k)
    b2 = bloom.build_bloom(half2, "content_hash", bucket, m, k)
    merged = bloom.merge_bloom_tables(b1.unionByName(b2))
    out = bloom.bloom_prefilter(seen_df, merged, "content_hash", bucket)
    assert out.where(~F.col("maybe_seen")).count() == 0  # union covers both halves


def test_unknown_bucket_is_fresh(spark, seen_df):
    m, k = bloom.params_for(100, fpr=0.01)
    blooms = bloom.build_bloom(
        seen_df.where(F.col("host") == "h0.example"),
        "content_hash",
        F.pmod(hash64("host"), F.lit(8)).cast("int"),
        m, k,
    )
    other = spark.createDataFrame([(sha("x"), "unbucketed.example")], ["content_hash", "host"])
    out = bloom.bloom_prefilter(
        other, blooms, "content_hash", F.pmod(hash64("host"), F.lit(8)).cast("int")
    )
    assert out.first()["maybe_seen"] is False


def test_persistent_incremental_blooms_equal_full_rebuild(spark, tmp_path):
    """G1 maintenance: delta commits OR-merge to the SAME blobs a full
    rebuild over the union produces (associativity), per-commit write volume
    is one blob row per touched bucket, and capacity overflow triggers an
    amortized rebuild with a larger m."""
    from german_newspaper_crawler_spark.operators.bloom import (
        SEEN_BUCKETS, build_bloom, capacity_of, ensure_blooms,
        merge_bloom_tables, params_for, seen_bucket, update_blooms,
    )
    from german_newspaper_crawler_spark.sources.store import SnapshotStore
    from pyspark.sql import functions as F

    def hashes(lo, hi):
        return spark.range(lo, hi).select(
            F.sha2(F.concat(F.lit("u"), F.col("id").cast("string")), 256)
            .alias("content_hash")
        )

    store = SnapshotStore(str(tmp_path / "b"))
    # base build over the first chunk (2x headroom sizing)
    base = ensure_blooms(spark, store, hashes(0, 500), fpr=0.01)
    assert base is not None
    m0 = store.read(spark, "blooms").select("m").first()["m"]

    # two incremental rounds
    update_blooms(spark, store, hashes(500, 700))
    update_blooms(spark, store, hashes(700, 800))
    merged = {
        r["bucket"]: (bytes(r["blob"]), r["n_items"])
        for r in merge_bloom_tables(store.read(spark, "blooms")).collect()
    }

    # full rebuild over the union with the SAME (m, k) must be bit-identical
    head = store.read(spark, "blooms").select("m", "k").first()
    bucket = seen_bucket("content_hash")
    full = {
        r["bucket"]: (bytes(r["blob"]), r["n_items"])
        for r in build_bloom(
            hashes(0, 800), "content_hash", bucket, int(head["m"]), int(head["k"])
        ).collect()
    }
    assert merged == full

    # delta commits wrote ∝ touched buckets (≤ SEEN_BUCKETS blob rows), never
    # the base
    m = store._read_manifest("blooms")
    delta_dirs = [s["dir"] for s in m["snapshots"] if s["op"] == "bloom-delta"]
    assert len(delta_dirs) == 2
    import os

    for d in delta_dirs:
        n = spark.read.parquet(os.path.join(str(tmp_path / "b"), "blooms", d)).count()
        assert n <= SEEN_BUCKETS

    # overflow the sized capacity → ensure_blooms rebuilds with larger m
    cap = capacity_of(int(m0), 0.01)
    update_blooms(spark, store, hashes(800, 800 + cap))
    ensure_blooms(spark, store, hashes(0, 800 + cap), fpr=0.01)
    ops = [s["op"] for s in store._read_manifest("blooms")["snapshots"]]
    assert ops.count("bloom-rebuild") >= 2  # initial + overflow rebuild
    assert store.read(spark, "blooms").select("m").first()["m"] > m0
