"""Operator-level property tests: id-assignment determinism across partition
counts (SURVEY §5.2 item 3), merge semantics, store snapshots."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from german_newspaper_crawler_spark.operators.ids import assign_ids
from german_newspaper_crawler_spark.operators.merge import merge_upsert
from german_newspaper_crawler_spark.sources.store import SnapshotStore


def test_assign_ids_matches_row_number_any_partitioning(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    expect = [
        (r["event_id"], r["_id"])
        for r in df.selectExpr(
            "event_id", "1000 + row_number() over (order by ts, event_id) as _id"
        ).collect()
    ]
    for parts in (1, 3, 16):
        got = [
            (r["event_id"], r["_id"])
            for r in assign_ids(
                df.repartition(7), ["ts", "event_id"], offset=1000, num_partitions=parts
            )
            .select("event_id", "_id")
            .collect()
        ]
        assert sorted(got) == sorted(expect), parts


def test_merge_upsert_semantics(spark):
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    batch = spark.createDataFrame([(2, "B"), (3, "C")], ["k", "v"])
    got = {(r["k"], r["v"]) for r in merge_upsert(base, batch, ["k"]).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "C")}


def test_store_snapshots_and_time_travel(spark, tmp_path):
    store = SnapshotStore(str(tmp_path))
    df1 = spark.createDataFrame([(1, "x")], ["k", "v"])
    s1 = store.append("t", df1)
    s2 = store.append("t", spark.createDataFrame([(2, "y")], ["k", "v"]))
    assert store.read(spark, "t").count() == 2
    assert store.read_at(spark, "t", s1).count() == 1  # time travel
    s3 = store.merge_delta("t", spark.createDataFrame([(2, "Y"), (3, "z")], ["k", "v"]), ["k"])
    got = {(r["k"], r["v"]) for r in store.read(spark, "t").collect()}
    assert got == {(1, "x"), (2, "Y"), (3, "z")}
    assert store.snapshot_id("t") == s3 == 3
    # resume-from-checkpoint: a fresh store object sees the committed state
    store2 = SnapshotStore(str(tmp_path))
    assert {(r["k"], r["v"]) for r in store2.read(spark, "t").collect()} == got


def test_store_compact_and_expire(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "c"))
    for i in range(5):
        store.append("t", spark.createDataFrame([(i, f"v{i}")], ["k", "v"]))
    assert store.read(spark, "t").count() == 5
    sid = store.compact(spark, "t")
    assert store.read(spark, "t").count() == 5
    # keep_last=2 keeps the pre-compact snapshot whose live set pins the old
    # dirs — nothing removable yet (time travel preserved)
    assert store.expire_snapshots("t", keep_last=2) == 0
    # keep only the compacted snapshot → the 5 small append dirs go away
    removed = store.expire_snapshots("t", keep_last=1)
    assert removed == 5
    assert store.read(spark, "t").count() == 5
    assert store.read_at(spark, "t", sid).count() == 5


def test_store_merge_delta_write_volume_and_resolution(spark, tmp_path):
    """merge_delta writes ONLY the batch (∝ batch size, never table size) and
    read resolves delta-wins-by-key over the base snapshots."""
    import os

    store = SnapshotStore(str(tmp_path / "d"))
    base = spark.createDataFrame([(i, "pending") for i in range(1000)], ["k", "v"])
    store.append("t", base)
    s_pre = store.read_at  # noqa: F841  (keep flake quiet about unused)

    def dir_rows(snap_dir):
        # count parquet rows committed in one snapshot dir
        return spark.read.parquet(os.path.join(str(tmp_path / "d"), "t", snap_dir)).count()

    delta = spark.createDataFrame([(i, "fetched") for i in range(10)], ["k", "v"])
    sid = store.merge_delta("t", delta, keys=["k"])
    m_dirs = [s for s in store._read_manifest("t")["snapshots"] if s["op"] == "merge-delta"]
    assert len(m_dirs) == 1
    # the committed delta snapshot holds exactly the batch — not 1000 rows
    assert dir_rows(m_dirs[0]["dir"]) == 10

    resolved = store.read(spark, "t")
    assert resolved.count() == 1000
    got = {r["k"]: r["v"] for r in resolved.where("k < 12").collect()}
    assert all(got[i] == "fetched" for i in range(10))
    assert got[10] == got[11] == "pending"

    # second delta overrides the first for overlapping keys (latest wins)
    store.merge_delta("t", spark.createDataFrame([(5, "failed")], ["k", "v"]), keys=["k"])
    got2 = {r["k"]: r["v"] for r in store.read(spark, "t").where("k in (4,5)").collect()}
    assert got2 == {4: "fetched", 5: "failed"}

    # appended rows with NEW keys coexist with live deltas (store contract)
    store.append("t", spark.createDataFrame([(2000, "pending")], ["k", "v"]))
    assert store.read(spark, "t").count() == 1001

    # time travel re-applies the resolution as of the old snapshot
    assert store.read_at(spark, "t", sid).where("v = 'fetched'").count() == 10

    # compaction folds deltas into one base dir; result set unchanged
    store.compact(spark, "t")
    assert len(store._read_manifest("t")["live"]) == 1
    got3 = {r["k"]: r["v"] for r in store.read(spark, "t").where("k in (5, 2000)").collect()}
    assert got3 == {5: "failed", 2000: "pending"}


def test_store_partition_spec_prunes_scans(spark, tmp_path):
    """K2 index maintenance (mongodb.py:160-177 → Iceberg-shaped spec):
    set_partition_spec makes every snapshot hive-partitioned + sorted;
    filtered reads prune partitions in the physical plan, and the spec
    survives append/merge_delta/compact round trips."""
    store = SnapshotStore(str(tmp_path / "ps"))
    store.set_partition_spec("t", ["bucket"], sort_cols=["url"])
    store.append("t", spark.range(800).selectExpr(
        "id % 8 AS bucket", "concat('u', id) AS url", "'pending' AS state"))
    store.append("t", spark.range(800, 1600).selectExpr(
        "id % 8 AS bucket", "concat('u', id) AS url", "'pending' AS state"))

    flt = store.read(spark, "t").where("bucket = 3")
    assert flt.count() == 200
    plan = flt._jdf.queryExecution().executedPlan().toString()
    import re

    pf = re.findall(r"PartitionFilters: \[[^\]]*bucket[^\]]*\]", plan)
    assert len(pf) >= 2, plan  # both snapshot scans prune on bucket

    # keyed delta over a partitioned table still resolves last-wins
    store.merge_delta("t", spark.createDataFrame(
        [(3, "u3", "fetched")], "bucket long, url string, state string"
    ), keys=["url"])
    got = {r["url"]: r["state"] for r in store.read(spark, "t").where("bucket = 3").collect()}
    assert got["u3"] == "fetched" and len(got) == 200

    # compact folds everything into ONE partitioned snapshot; pruning intact
    store.compact(spark, "t")
    flt2 = store.read(spark, "t").where("bucket = 3")
    assert flt2.count() == 200
    plan2 = flt2._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan2), plan2


def test_pop_batch_salted_topk_exact(spark):
    """Mega-host skew-splitting: the salted two-phase top-k returns the
    IDENTICAL batch as the single-window form, while the first window
    partitions on (host, salt) — the fattest partition shrinks ×salt."""
    from german_newspaper_crawler_spark.operators.frontier import pop_batch

    rows = spark.range(50_000).selectExpr(
        "concat('https://mega.example/a', id) AS url",
        "'mega.example' AS host",
        "0 AS bucket",
        "CAST(id % 7 AS INT) AS priority",
        "id AS seq",
        "'article' AS kind",
        "'pending' AS state",
    ).unionByName(spark.range(10).selectExpr(
        "concat('https://small.example/b', id) AS url",
        "'small.example' AS host",
        "1 AS bucket",
        "0 AS priority",
        "id AS seq",
        "'article' AS kind",
        "'pending' AS state",
    ))
    plain = {r["url"] for r in pop_batch(rows, 25, skew_salt=0).collect()}
    salted = {r["url"] for r in pop_batch(rows, 25, skew_salt=16).collect()}
    assert salted == plain
    assert len([u for u in salted if "mega" in u]) == 25
    assert len([u for u in salted if "small" in u]) == 10
    plan = pop_batch(rows, 25, skew_salt=16)._jdf.queryExecution().executedPlan().toString()
    assert "pmod" in plan and plan.count("WindowGroupLimit") >= 2, plan


def test_store_crash_between_write_and_commit_is_invisible(spark, tmp_path):
    """Atomicity: a task/driver crash AFTER data files are written but
    BEFORE the manifest swap leaves an orphan snapshot dir that readers
    never see; re-running the append converges without duplicates (the
    Iceberg commit-protocol property the resume story rests on)."""
    store = SnapshotStore(str(tmp_path / "cr"))
    store.append("t", spark.createDataFrame([(1, "a")], ["k", "v"]))

    # simulate the crash: snapshot written, manifest never swapped
    orphan = store._write_snapshot("t", spark.createDataFrame([(2, "b")], ["k", "v"]))
    import os

    assert os.path.isdir(os.path.join(str(tmp_path / "cr"), "t", orphan))
    assert store.read(spark, "t").count() == 1  # orphan invisible
    assert store.snapshot_id("t") == 1

    # the retry commits normally; no duplicate, orphan stays unreferenced
    store.append("t", spark.createDataFrame([(2, "b")], ["k", "v"]))
    got = {(r["k"], r["v"]) for r in store.read(spark, "t").collect()}
    assert got == {(1, "a"), (2, "b")}

    # a torn manifest tmp file (crash mid-json-write) is ignored too
    open(store._manifest_path("t") + ".tmp-dead", "w").write("{not json")
    assert {(r["k"], r["v"]) for r in store.read(spark, "t").collect()} == got


def test_containment_catches_quotation_jaccard_misses(spark):
    """A long article quoting a short one: Jaccard is low (union dominated
    by the long doc) but containment(inner→outer) = 1.0 — the case the
    containment join exists for."""
    from german_newspaper_crawler_spark.operators.dedup import (
        containment_pairs, ngram_jaccard_pairs,
    )

    short = "der kurze originale bericht über das ereignis"
    long = (
        "einleitung mit vielen anderen worten und sätzen hier "
        + short
        + " und noch eine lange analyse danach mit weiteren absätzen "
        "sowie zusätzlichen einschätzungen von expertinnen und experten"
    )
    df = spark.createDataFrame([(1, short), (2, long)], ["doc_id", "text"])
    jac = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    assert jac == []  # jaccard misses the quotation
    cont = {
        (r["inner"], r["outer"]): r["containment"]
        for r in containment_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
    }
    assert cont == {(1, 2): 1.0}  # short doc fully contained in the long one

def test_prefix_filter_pairs_identical_to_plain_inverted_index(spark):
    """The PPJoin prefix-filtered path must emit EXACTLY the plain capped
    inverted-index join's pairs — same (a, b, jaccard6) set — on a corpus
    stressing the pruning bounds: near-dup templated pairs at/around the
    0.5 threshold, size-skewed pairs near the size-filter boundary
    (min >= t*max), singleton-heavy docs (df=1 prefix slots), and a
    stop-shingle shared by many docs (df-cap interaction)."""
    import random

    from german_newspaper_crawler_spark.operators.dedup import (
        _capped_inverted_index, _shingle_arrays, ngram_jaccard_pairs,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    stop = "der die das"  # a shingle every doc shares
    rows = []
    did = 0
    for _ in range(30):  # templated near-dups straddling the threshold
        base = [rng.choice(vocab) for _ in range(rng.randint(12, 40))]
        mut = list(base)
        for _ in range(rng.randint(1, max(2, len(base) // 3))):
            mut[rng.randrange(len(mut))] = rng.choice(vocab)
        rows.append((did, stop + " " + " ".join(base))); did += 1
        rows.append((did, stop + " " + " ".join(mut))); did += 1
    for _ in range(20):  # size-skew: short doc vs its 2x-padded version
        base = [rng.choice(vocab) for _ in range(rng.randint(8, 16))]
        pad = base + [rng.choice(vocab) for _ in range(len(base))]
        rows.append((did, " ".join(base))); did += 1
        rows.append((did, " ".join(pad))); did += 1
    for _ in range(40):  # background singleton-heavy docs
        rows.append((did, " ".join(rng.choice(vocab) for _ in range(20)))); did += 1
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # the plain reference: every pair of the capped inverted index, with
    # the exact jaccard over the per-doc capped sizes
    common, sizes = _capped_inverted_index(
        _shingle_arrays(df, "doc_id", "text", 3), "doc_id", 100
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb"))
    jac = F.round(
        F.col("c").cast("double")
        / (F.col("na") + F.col("nb") - F.col("c")).cast("double"),
        6,
    )
    plain = common.join(sa, "a").join(sb, "b").select(
        "a", "b", jac.alias("jaccard")
    ).collect()
    for t in (0.3, 0.5, 0.8):
        want = {(r["a"], r["b"], r["jaccard"]) for r in plain if r["jaccard"] >= t}
        got = {
            (r["a"], r["b"], r["jaccard"])
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", n=3, threshold=t, max_df=100,
            ).collect()
        }
        assert got == want, (t, got ^ want)
        assert want  # the fixture must actually produce pairs


def test_connected_components_raises_at_cap_instead_of_partial_labels(spark):
    """Min-label propagation needs about one iteration per unit of
    diameter. A 25-node path cannot converge in the default 20 iterations:
    it must raise, not return several "components" (the unconverged labels
    split the path into 5). A 10-node path converges to one component."""
    from german_newspaper_crawler_spark.operators.components import (
        connected_components,
    )

    def path(n):
        return spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a long, b long")

    with pytest.raises(RuntimeError, match="still changing"):
        connected_components(path(25))
    labels = {r["id"]: r["component"] for r in connected_components(path(10)).collect()}
    assert labels == {i: 0 for i in range(10)}


def test_paragraph_dedup_ignores_null_paragraphs(spark):
    """A null array element must not hash to a shared null key (which would
    'dedup' every null against every other) nor count toward n_total."""
    from german_newspaper_crawler_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(1, ["A", None, "B"]), (2, [None, "A"]), (3, [None])],
        "doc_id long, paras array<string>",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_total"])
        for r in paragraph_dedup(df, "doc_id", "paras").collect()
    }
    assert got == {
        1: ("A\n\nB", 2, 2),  # null slot ignored entirely
        2: ("", 0, 1),        # its only non-null para lost to doc 1
        3: ("", 0, 0),        # all-null doc: present, empty, zero total
    }


def test_grouped_cumsum_rejects_null_group(spark):
    """Null group values are an explicit error (a running sum 'within group
    NULL' is ambiguous), not a driver-side TypeError from sorting None
    against str — the round-3 ADVICE defect."""
    from german_newspaper_crawler_spark.operators.ids import grouped_cumsum

    df = spark.createDataFrame(
        [("a", 1, 10), (None, 2, 20), ("b", 3, 30)],
        "g string, id long, v long",
    )
    with pytest.raises(ValueError, match="null values in group column"):
        grouped_cumsum(df, "g", ["id"], "v", num_partitions=3)


def test_grouped_cumsum_rejects_duplicate_order_key(spark):
    """The documented unique-(group, order)-key precondition is enforced,
    not silently violated: duplicates are adjacent after the range sort, so
    the worker-side per-batch check catches every violation."""
    from pyspark.errors.exceptions.captured import PythonException

    from german_newspaper_crawler_spark.operators.ids import grouped_cumsum

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 1, 20), ("a", 2, 30)],
        "g string, id long, v long",
    )
    with pytest.raises(PythonException, match="duplicate order key"):
        grouped_cumsum(df, "g", ["id"], "v", num_partitions=2).collect()


def test_phash_suppress_default_bands_catch_boundary_radius(spark):
    """Recall at the boundary radius (round-3 ADVICE): a pair differing in
    EXACTLY max_hamming=4 bits, one per 15-bit band, escapes 4x15 banding
    (no shared band) but is guaranteed caught by the default
    n_bands=max_hamming+1 (5x12) via pigeonhole."""
    from pyspark.sql import functions as F

    from german_newspaper_crawler_spark.operators.dedup import (
        phash_suppress_near_dups,
    )

    base = 0x0123456789AB
    # one flipped bit in each of the four 15-bit bands → hamming 4
    near = base ^ ((1 << 0) | (1 << 15) | (1 << 30) | (1 << 45))
    seen = spark.createDataFrame([(base,)], "phash long")
    batch = spark.createDataFrame([(1, near), (2, 1 << 59)], "id long, phash long")

    kept_default = {
        r["id"]
        for r in phash_suppress_near_dups(
            batch, seen, id_col="id", max_hamming=4
        ).collect()
    }
    assert kept_default == {2}  # boundary pair suppressed, far row kept

    kept_4x15 = {
        r["id"]
        for r in phash_suppress_near_dups(
            batch, seen, id_col="id", max_hamming=4, n_bands=4, band_bits=15
        ).collect()
    }
    assert 1 in kept_4x15  # the documented probabilistic miss at 4 bands


def test_remove_repeated_spans_exact_substring_dedup(spark):
    """ExactSubstr semantics (Lee et al. 2022): a k-gram repeated across
    docs is removed from every occurrence but the first (doc, pos); the
    keeper doc is untouched; unique text survives; interval overlap is
    handled by the boundary-event running sum."""
    from german_newspaper_crawler_spark.operators.dedup import (
        remove_repeated_spans,
    )

    shared = "a b c d"  # with k=4: exactly one shared span per repeat site
    rows = [
        (1, f"{shared} x1 y1 z1"),          # first occurrence — untouched
        (2, f"p2 {shared} q2 r2"),          # interior repeat — span dropped
        (3, f"{shared} {shared}"),           # overlapping repeats in one doc
        (4, "u4 v4 w4"),                     # shorter than k — untouched
        (5, "unique five token doc here"),  # no repeats — untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_total"])
        for r in remove_repeated_spans(df, "doc_id", "text", k=4).collect()
    }
    assert got[1] == ("a b c d x1 y1 z1", 7, 7)
    assert got[2] == ("p2 q2 r2", 3, 7)
    # doc 3: spans at pos 0..4 all duplicated (vs doc 1 and internally);
    # every token is covered by some duplicate interval
    assert got[3] == ("", 0, 8)
    assert got[4] == ("u4 v4 w4", 3, 3)
    assert got[5] == ("unique five token doc here", 5, 5)


def test_hll_distinct_accuracy_and_register_exactness(spark):
    """The relational HLL sketch lands within ~3 sigma (5%) of the exact
    distinct count at p=12, and its estimate is an exact function of the
    register multiset (re-running on a reshuffled frame is bit-identical)."""
    from pyspark.sql import functions as F

    from german_newspaper_crawler_spark.operators.sketches import hll_distinct

    df = spark.range(40_000).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        # ~13333 distinct keys per group, with collisions across groups
        (F.col("id") % 17_000).cast("string").alias("key"),
    )
    got = {
        r["grp"]: (r["est_distinct"], r["exact_distinct"])
        for r in hll_distinct(df, "key", "grp", p=12, include_exact=True).collect()
    }
    assert len(got) == 3
    for est, exact in got.values():
        assert abs(est - exact) / exact < 0.05, (est, exact)

    again = {
        r["grp"]: (r["est_distinct"], r["exact_distinct"])
        for r in hll_distinct(
            df.repartition(13), "key", "grp", p=12, include_exact=True
        ).collect()
    }
    assert again == got


def test_hll_distinct_p_generality_and_scale_profile(spark):
    """ADVICE-r4 (medium): the rank/weight constants must derive from p —
    at p=8 and p=14 the estimate still lands within ~3 sigma of exact
    (1.04/sqrt(2^p)), where the old hard-coded p=12 constants would bias
    the estimate by ~2^(p-12). Also: the default include_exact=False
    profile returns no exact column and its plan contains no exact
    distinct aggregate — the 100-TB call path never pays for it."""
    from pyspark.sql import functions as F

    from german_newspaper_crawler_spark.operators.sketches import hll_distinct

    df = spark.range(60_000).select(
        F.lit("g").alias("grp"),
        (F.col("id") % 20_000).cast("string").alias("key"),
    )
    for p in (8, 14):
        sigma = 1.04 / (1 << p) ** 0.5
        [row] = hll_distinct(df, "key", "grp", p=p, include_exact=True).collect()
        rel_err = abs(row["est_distinct"] - row["exact_distinct"]) / 20_000
        assert rel_err < 3.5 * sigma, (p, row["est_distinct"], rel_err)

    scale = hll_distinct(df, "key", "grp", p=12)
    assert scale.columns == ["grp", "est_distinct"]
    plan = scale._jdf.queryExecution().optimizedPlan().toString()
    assert "distinct" not in plan.lower().replace("est_distinct", "")

    import pytest

    with pytest.raises(ValueError, match="precision"):
        hll_distinct(df, "key", "grp", p=3)


def test_pagerank_semantics(spark):
    """3-iteration PageRank: total mass conserved (sums to ~1 including the
    damping redistribution), an authority node (all others point at it)
    outranks everything, and the result is partition-count invariant."""
    from pyspark.sql import functions as F

    from german_newspaper_crawler_spark.operators.sketches import pagerank

    # star: 1..5 -> 0, plus a 5 -> 6 edge so node 6 exists with low rank
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)] + [(5, 6)], "src long, dst long"
    )
    got = {
        r["node"]: r["pagerank"]
        for r in pagerank(edges, "src", "dst", iterations=3).collect()
    }
    assert len(got) == 7
    assert abs(sum(got.values()) - 1.0) < 1e-3
    assert got[0] == max(got.values())  # the authority wins
    assert got[0] > 3 * got[6]

    again = {
        r["node"]: r["pagerank"]
        for r in pagerank(edges.repartition(5), "src", "dst", iterations=3).collect()
    }
    assert again == got


def test_countmin_never_undercounts_and_is_tight_when_sparse(spark):
    """CM sketch invariants: est >= exact for every key (one-sided error);
    with few distinct keys vs d x w cells, collisions are absent and the
    estimate is exact; reshuffle-identical."""
    from pyspark.sql import functions as F

    from german_newspaper_crawler_spark.operators.sketches import countmin_estimate

    df = spark.range(10_000).select((F.col("id") % 40).alias("key"))
    q = spark.range(40).select(F.col("id").alias("key"))
    got = {
        r["key"]: (r["est_count"], r["exact_count"])
        for r in countmin_estimate(
            df, "key", q, d=3, w=2048, include_exact=True
        ).collect()
    }
    assert len(got) == 40
    for est, exact in got.values():
        assert est >= exact  # one-sided
        assert exact == 250
        assert est == exact  # 40 keys into 3x2048 cells: no collisions

    again = {
        r["key"]: (r["est_count"], r["exact_count"])
        for r in countmin_estimate(
            df.repartition(7), "key", q, d=3, w=2048, include_exact=True
        ).collect()
    }
    assert again == got

    # scale profile: default include_exact=False — no exact column, and no
    # per-key exact aggregate anywhere in the plan (only the bounded d x w
    # cell groupBy and the per-(r,c) query-side grouping survive)
    scale = countmin_estimate(df, "key", q, d=3, w=2048)
    assert scale.columns == ["key", "est_count"]
    plan = scale._jdf.queryExecution().optimizedPlan().toString()
    assert "exact_count" not in plan


def test_pagerank_deep_iterations_checkpointed(spark):
    """iterations=20 must complete with flat plan depth (each step is
    localCheckpoint-ed past the depth threshold — the lazy chain would
    recompute ~3^20 otherwise) and converge to the same authority ordering
    as the shallow run."""
    from german_newspaper_crawler_spark.operators.sketches import pagerank

    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)] + [(5, 6)], "src long, dst long"
    )
    got = {
        r["node"]: r["pagerank"]
        for r in pagerank(edges, "src", "dst", iterations=20).collect()
    }
    assert len(got) == 7
    assert abs(sum(got.values()) - 1.0) < 1e-3
    assert got[0] == max(got.values())


def test_ranking_guards_and_tfidf_semantics(spark):
    import pytest

    from german_newspaper_crawler_spark.operators.ranking import (
        bm25_scores, tfidf_top_terms,
    )

    df = spark.createDataFrame(
        [
            (1, "apple banana apple cherry"),
            (2, "banana cherry cherry date"),
            (3, "apple date date date unique"),
        ],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError):
        bm25_scores(df, "doc_id", "text", query_terms=[])
    with pytest.raises(ValueError):
        tfidf_top_terms(df, "doc_id", "text", k=0)

    rows = tfidf_top_terms(df, "doc_id", "text", k=2, min_df=1).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # every doc yields exactly k=2 ranked terms (all have >=2 distinct terms)
    assert {d: len(v) for d, v in by_doc.items()} == {1: 2, 2: 2, 3: 2}
    for v in by_doc.values():
        v.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in v] == [1, 2]
        assert v[0]["tfidf"] >= v[1]["tfidf"]
    # doc 3: 'unique' is a hapax (df=1) with tf=1 -> weight 1.0*(ln(4/2)+1);
    # 'date' has tf=3, df=2 -> (1+ln 3)*(ln(4/3)+1): date must outrank it
    top3 = by_doc[3][0]
    assert top3["term"] == "date"
    # min_df=2 prunes the hapax entirely
    pruned = tfidf_top_terms(df, "doc_id", "text", k=5, min_df=2).collect()
    assert all(r["term"] != "unique" for r in pruned)


def test_quantile_hist_accuracy_and_reshuffle_identity(spark):
    import numpy as np
    import pytest

    from german_newspaper_crawler_spark.operators.sketches import quantile_hist

    rng = np.random.default_rng(11)
    vals = rng.integers(0, 1000, 3000).tolist()
    df = spark.createDataFrame(
        [(int(v), "g%d" % (i % 2)) for i, v in enumerate(vals)],
        "v long, grp string",
    )
    with pytest.raises(ValueError):
        quantile_hist(df, "v", "grp", qs=())
    with pytest.raises(ValueError):
        quantile_hist(df, "v", "grp", hi=0.0, lo=0.0)

    out = quantile_hist(
        df, "v", "grp", qs=(0.5, 0.9), lo=0.0, hi=1000.0, n_bins=100
    ).collect()
    assert len(out) == 4
    by = {(r["grp"], r["q"]): r for r in out}
    for g in ("g0", "g1"):
        exact = np.sort([v for i, v in enumerate(vals) if i % 2 == int(g[1])])
        n = len(exact)
        assert by[(g, 0.5)]["n_rows"] == n
        for q in (0.5, 0.9):
            est = by[(g, q)]["est_q"]
            # estimate must land within one bin width of the exact
            # rank-ceil(q*N) order statistic (bin width = 10)
            truth = exact[int(np.ceil(q * n)) - 1]
            assert abs(est - truth) <= 10.0, (g, q, est, truth)
    # partition-layout identity: the estimate is a pure function of counts
    out2 = quantile_hist(
        df.repartition(13, "v"), "v", "grp",
        qs=(0.5, 0.9), lo=0.0, hi=1000.0, n_bins=100,
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    # outliers clamp to edge bins instead of disappearing
    edge = spark.createDataFrame([(-50, "g"), (5000, "g")], "v long, grp string")
    [r] = quantile_hist(edge, "v", "grp", qs=(0.5,), lo=0.0, hi=100.0, n_bins=10).collect()
    assert r["n_rows"] == 2 and 0.0 <= r["est_q"] <= 100.0


def test_widen_if_narrow_scan_vs_shuffled_inputs(spark, tmp_path):
    """The widen gate (r6): a narrow file scan repartitions up to the
    session's shuffle parallelism; anything already past a shuffle is left
    untouched — probing those with .rdd would eagerly materialize their AQE
    query stages at plan-build time."""
    from german_newspaper_crawler_spark.operators.dedup import widen_if_narrow

    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    path = str(tmp_path / "narrow.parquet")
    spark.range(1000).selectExpr("id", "cast(id as string) AS text") \
        .coalesce(1).write.mode("overwrite").parquet(path)

    scan = spark.read.parquet(path).select("id", "text")
    widened = widen_if_narrow(scan)
    assert widened.rdd.getNumPartitions() == p
    # rows unchanged, just redistributed
    assert widened.count() == 1000

    # aggregated input: plan contains an Aggregate -> returned AS-IS (its
    # output is already as wide as the shuffle parallelism, and probing it
    # with .rdd would eagerly materialize its AQE stages)
    agg = scan.groupBy("text").count()
    assert widen_if_narrow(agg) is agg
    joined = scan.join(scan.select("id"), "id")
    assert widen_if_narrow(joined) is joined
    # plan NODES decide, not plan text: a column named like a node class
    # leaves a scan-shaped frame scan-shaped
    named = scan.withColumnRenamed("text", "Joined")
    assert widen_if_narrow(named).rdd.getNumPartitions() == p
    # a streaming frame has no partitions to probe -> returned as-is
    stream = spark.readStream.schema(scan.schema).parquet(path)
    assert widen_if_narrow(stream) is stream
    # a cached SCAN-shaPED frame is still probed (cache substitution
    # happens after analysis, and a 1-partition cache read would serialize
    # the narrow work above it just like the raw scan) -> widened
    cached = scan.persist()
    try:
        cached.count()
        assert widen_if_narrow(cached).rdd.getNumPartitions() == p
    finally:
        cached.unpersist()


def test_shingle_arrays_cache_guards_generate_filter_inlining(spark):
    """Regression guard for the r6-measured 35x trap: exploding a DERIVED
    array column lets InferFiltersFromGenerate + projection collapse inline
    the whole shingle expression (including the regex split) into an
    inferred filter, re-evaluating it per row. _shingle_arrays
    materializes the arrays with a local checkpoint, so the explode's
    optimized plan must read a LogicalRDD leaf and no split may appear
    above it."""
    from german_newspaper_crawler_spark.operators.dedup import _shingle_arrays

    df = spark.createDataFrame(
        [(i, "ein zwei drei vier fünf sechs") for i in range(10)],
        ["doc_id", "text"],
    )
    arr0 = _shingle_arrays(df, "doc_id", "text", 3)
    sh = arr0.select("doc_id", F.explode("sh_arr").alias("shingle"))
    plan = sh._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    assert [leaves.apply(i).nodeName() for i in range(leaves.size())] == [
        "LogicalRDD"
    ], plan.toString()[:500]
    assert "split(" not in plan.toString(), plan.toString()[:500]
    assert sh.count() == 40  # 4 distinct shingles x 10 docs


@pytest.mark.parametrize(
    "name",
    [
        "dedup_ngram_jaccard", "dedup_components_keepers", "dedup_containment",
        "curation_pipeline", "text_tfidf_top_terms", "pack_training_sequences",
        "w1_a3_id_assignment", "crawl_fixture_e2e",
    ],
)
def test_materialized_intermediates_leave_no_cache(spark, name):
    """Intermediates these queries read twice are local checkpoints, which
    Spark's ContextCleaner frees: building and collecting the query must
    leave nothing in the session's cache, even while the result frame is
    still alive."""
    from german_newspaper_crawler_spark.plans.queries import REGISTRY

    spark.catalog.clearCache()
    out = REGISTRY[name].spark(spark, "/root/testdata/sf0.001")
    assert out.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
