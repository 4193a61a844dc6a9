"""Structured Streaming formulations of the reference's implicit streaming
behaviors (SURVEY §2.9).

The reference is a periodically-run incremental batch job: each run consumes
"new since last run" via the persisted hash set (T1,
``scr/german_newspaper_crawler.py:66-74``). The engine's primary formulation
is batch-incremental over store snapshots (plans/crawl.py — resumable,
idempotent). This module provides the equivalent *streaming* formulations
for deployments that want a continuously-running pipeline:

* :func:`streaming_dedup` — ``dropDuplicates`` on the content identity with
  state-store persistence (T1/T4: re-crawled URL = same hash → dropped),
* :func:`streaming_hourly_rollup` — event-time tumbling window with a
  watermark for late data (the batch twin is the ``events_hourly_rollup``
  oracle query),
* :func:`stream_pages_from_dir` — file-source of page rows; with
  ``Trigger.AvailableNow`` this is exactly the reference's "run until
  caught up, then stop" cadence (T2) with checkpoint-based resume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from german_newspaper_crawler_spark.functions import hashing


def stream_pages_from_dir(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def streaming_dedup(pages: DataFrame) -> DataFrame:
    """Exact streaming dedup on the reference identity (§1.4): url-hash for
    http(s) rows, text/html-hash fallback; first row wins, duplicates are
    dropped from the stream (matches the skip path, web_requests.py:182-196).

    State: the content_hash set lives in the streaming state store — the
    streaming twin of the ``seen`` table. At 10^10 scale prefer RocksDB
    state store (spark.sql.streaming.stateStore.providerClass).
    """
    hashed = pages.withColumn(
        "content_hash", hashing.content_hash("url", "text", "html")
    )
    return hashed.dropDuplicates(["content_hash"])


def streaming_hourly_rollup(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Event-time tumbling rollup with late-data watermark. The reference has
    no event-time windows (SURVEY §2.9) — this is the graft's streaming
    metrics rollup (G7) in its idiomatic Structured Streaming form."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("hour"), "event_type", "n", "total_value"
        )
    )


def run_available_now(stream_df: DataFrame, checkpoint: str, out_dir: str) -> None:
    """Trigger.AvailableNow batch-catchup run (T2): process everything
    pending, commit the checkpoint, stop — the reference's manual-run
    cadence with exactly-once file sink semantics."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _foreach_batch_available_now(docs: DataFrame, process, checkpoint: str):
    """The ``writeStream`` of every ``foreachBatch`` twin below: ``process``
    per microbatch, checkpointed, run until caught up (``.start()`` it)."""
    return (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


SESSION_OUT = "user_id bigint, event_id bigint, session_id bigint"
SESSION_STATE = "last_ts double, session_id bigint"


def streaming_sessionize(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user session ids with a gap rule, state = (last event time, current
    session id) persisted in the state store across micro-batches/restarts.

    The batch twin is the ``events_sessionize`` oracle query (lag + running
    sum); this is the form the engine uses when events arrive as a live
    stream. Assumes per-user event-time order across micro-batches (enforce
    upstream with a watermark + sort within the ingestion job when sources
    can reorder).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def sessionize(key, pdfs, state):
        user_id = key[0]
        if state.exists:
            last_ts, session_id = state.get
        else:
            last_ts, session_id = None, 0
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for r in pdf.itertuples(index=False):
                ts = r.ts.timestamp()
                if last_ts is None or ts - last_ts > gap_s:
                    session_id += 1
                last_ts = ts
                out.append((user_id, r.event_id, session_id))
        state.update((last_ts, session_id))
        yield pd.DataFrame(out, columns=["user_id", "event_id", "session_id"])

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            sessionize,
            outputStructType=SESSION_OUT,
            stateStructType=SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


PHASH_OUT = "a bigint, b bigint, hamming integer"
PHASH_STATE = "ids array<bigint>, hashes array<bigint>"


def streaming_phash_neardup(
    images: DataFrame, n_bands: int = 4, band_bits: int = 15,
    max_hamming: int = 4,
) -> DataFrame:
    """Streaming twin of G6 (operators/dedup.py::banded_hamming_pairs): as
    image rows ``(id, phash)`` arrive, near-duplicate pairs are emitted the
    moment the LATER image lands — the live form of the crawl's pHash
    suppression, replacing the reference's MongoDB image-dedup collection
    for continuously-running deployments.

    Shape: each image fans out to its ``n_bands`` LSH band keys; state is
    keyed by ``(band, band_val)`` and holds that bucket's posting list of
    (id, phash) in the state store (RocksDB provider at 10^10 scale —
    bucket width is bounded by the band's selectivity exactly like the
    batch join's). A new arrival compares only against its colliding
    buckets, never the whole history. A pair colliding in several bands is
    emitted once per band — dedupe downstream with
    ``dropDuplicates(["a", "b"])`` (cheap exact-key streaming state).

    Determinism: within a micro-batch rows are processed in id order, and
    pairs are emitted as (min id, max id), so the accumulated output equals
    the batch ``banded_hamming_pairs`` result regardless of chunking or
    restarts (asserted in tests/test_streaming.py).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    mask = (1 << band_bits) - 1
    parts = None
    for bidx in range(n_bands):
        p = images.select(
            "id", "phash",
            F.lit(bidx).alias("band"),
            F.shiftright("phash", band_bits * bidx).bitwiseAND(F.lit(mask))
            .alias("band_val"),
        )
        parts = p if parts is None else parts.unionByName(p)

    u64 = (1 << 64) - 1

    def match(key, pdfs, state):
        if state.exists:
            ids, hashes = state.get
            ids, hashes = list(ids), list(hashes)
        else:
            ids, hashes = [], []
        out = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            for r in pdf.sort_values("id").itertuples(index=False):
                ph = int(r.phash)
                for sid, sph in zip(ids, hashes):
                    hc = ((sph ^ ph) & u64).bit_count()
                    if hc <= max_hamming:
                        out.append((min(sid, r.id), max(sid, r.id), hc))
                ids.append(int(r.id))
                hashes.append(ph)
        state.update((ids, hashes))
        yield pd.DataFrame(out, columns=["a", "b", "hamming"])

    return parts.groupBy("band", "band_val").applyInPandasWithState(
        match,
        outputStructType=PHASH_OUT,
        stateStructType=PHASH_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


MINHASH_OUT = "a bigint, b bigint"
MINHASH_STATE = "ids array<bigint>"


def streaming_minhash_candidates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, num_hashes: int = 8, band_rows: int = 2,
) -> DataFrame:
    """Streaming set-similarity candidate join (the streaming twin of
    operators/dedup.py::minhash_lsh_candidates; cf. "Distributed Streaming
    Set Similarity Join", ICDE 2020): as documents arrive, MinHash+LSH
    candidate pairs are emitted the moment the later document lands.

    Stage 1 (stateless mapInPandas): per-doc MinHash signature computed
    python-side with the SHARED hash64 recipe — ``int(sha256(shingle#seed)
    hex[:15], 16)`` — so band keys are bit-identical to the batch operator's
    (asserted in tests/test_streaming.py). Stage 2: state keyed by
    ``(band, key)`` holds the bucket's posting list; emitted pairs are
    (min id, max id); multi-band duplicates dedupe downstream with
    ``dropDuplicates(["a", "b"])``. Docs with < n tokens never signature
    (both engines agree).
    """
    import hashlib

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    n_bands = num_hashes // band_rows

    def sigs(batches):
        for pdf in batches:
            out_id, out_band, out_key = [], [], []
            for r in pdf.itertuples(index=False):
                toks = (getattr(r, text_col) or "").strip().split()
                if len(toks) < n:
                    continue
                shingles = {
                    " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
                }
                mins = [
                    min(
                        int(hashlib.sha256(f"{s}#{seed}".encode()).hexdigest()[:15], 16)
                        for s in shingles
                    )
                    for seed in range(num_hashes)
                ]
                for b in range(n_bands):
                    key = ":".join(
                        str(v) for v in mins[b * band_rows:(b + 1) * band_rows]
                    )
                    out_id.append(int(getattr(r, id_col)))
                    out_band.append(b)
                    out_key.append(key)
            yield pd.DataFrame({"id": out_id, "band": out_band, "key": out_key})

    banded = docs.mapInPandas(sigs, "id bigint, band integer, key string")

    def match(key, pdfs, state):
        ids = list(state.get[0]) if state.exists else []
        out = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            for rid in sorted(int(x) for x in pdf["id"]):
                for sid in ids:
                    out.append((min(sid, rid), max(sid, rid)))
                ids.append(rid)
        state.update((ids,))
        yield pd.DataFrame(out, columns=["a", "b"])

    return banded.groupBy("band", "key").applyInPandasWithState(
        match,
        outputStructType=MINHASH_OUT,
        stateStructType=MINHASH_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_paragraph_dedup(
    docs: DataFrame,
    store,
    checkpoint: str,
    id_col: str = "doc_id",
    paras_col: str = "paras",
    out_table: str = "clean_docs",
    seen_table: str = "seen_paras",
):
    """Continuously-running twin of :func:`operators.dedup.paragraph_dedup`
    (CCNet corpus-wide paragraph dedup): each microbatch drops every
    paragraph already seen in PRIOR batches, applies the batch winner rule
    (min (id, pos) per hash) WITHIN the batch, rebuilds the texts, and
    commits the newly-seen hashes — so across the stream's lifetime every
    repeated paragraph survives exactly once, in its first-arrival
    document.

    Formulated with ``foreachBatch`` over the snapshot store rather than
    ``applyInPandasWithState``: a doc's paragraphs scatter across hash
    groups, so keep/drop decisions and doc reassembly are different
    shuffles — exactly the two-stage shape foreachBatch handles with plain
    batch plans, while the corpus-wide seen set lives in a queryable store
    table instead of opaque operator state (the same design the crawl uses
    for its ``seen`` table).

    Replay safety (at-least-once sources): ``seen_paras`` rows carry the
    ``added_batch`` that first committed them, and the anti-join only
    consults rows with ``added_batch < current batch_id`` — a reprocessed
    batch therefore sees the exact pre-batch state again, and its
    ``merge`` writes (keyed on hash / doc id) are bit-identical. Without
    the batch-id fence, a crash between the state commit and the
    checkpoint advance would make the replay drop the batch's own
    paragraphs as "seen".
    """
    process = paragraph_dedup_batch(store, id_col, paras_col, out_table, seen_table)
    return _foreach_batch_available_now(docs, process, checkpoint)


def paragraph_dedup_batch(
    store,
    id_col: str = "doc_id",
    paras_col: str = "paras",
    out_table: str = "clean_docs",
    seen_table: str = "seen_paras",
):
    """The per-microbatch callable behind :func:`streaming_paragraph_dedup`
    — exposed so replay behavior (at-least-once batch reprocessing) is
    directly testable and so a non-streaming incremental job can drive the
    same logic per run."""
    from german_newspaper_crawler_spark.functions.hashing import hash64

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        occ = (
            batch_df.select(
                F.col(id_col),
                F.posexplode(F.col(paras_col)).alias("pos", "para"),
            )
            .where(F.col("para").isNotNull())  # null key would collapse in merge
            .withColumn("__h", hash64(F.col("para")))
        )
        totals = batch_df.select(
            F.col(id_col),
            F.size(
                F.filter(F.col(paras_col), lambda x: x.isNotNull())
            ).cast("long").alias("n_total"),
        )
        if store.exists(seen_table):
            prior = (
                store.read(spark, seen_table)
                .where(F.col("added_batch") < F.lit(batch_id))
                .select("__h")
            )
            occ = occ.join(prior, "__h", "left_anti")
        winners = occ.groupBy("__h").agg(
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("w")
        )
        kept = (
            occ.join(winners, "__h")
            .where(
                (F.col(f"w.{id_col}") == F.col(id_col))
                & (F.col("w.pos") == F.col("pos"))
            )
            .select(id_col, "pos", "para")
        )
        rebuilt = kept.groupBy(id_col).agg(
            F.array_sort(F.collect_list(F.struct("pos", "para"))).alias("ps")
        ).select(
            id_col,
            F.array_join(F.col("ps").getField("para"), "\n\n").alias("clean_text"),
            F.size("ps").cast("long").alias("n_kept"),
        )
        out = totals.join(rebuilt, id_col, "left").select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            "n_total",
        )
        store.merge(spark, out_table, out, keys=[id_col])
        store.merge(
            spark, seen_table,
            occ.select("__h").distinct()
            .withColumn("added_batch", F.lit(batch_id).cast("long")),
            keys=["__h"],
        )

    return process


def streaming_substring_dedup(
    docs: DataFrame,
    store,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    out_table: str = "clean_docs_substr",
    seen_table: str = "seen_spans",
):
    """Continuously-running twin of
    :func:`operators.dedup.remove_repeated_spans` (ExactSubstr, Lee et al.
    2022): each microbatch drops every k-token span already seen in PRIOR
    batches, applies the batch winner rule (min (id, pos) per span hash)
    WITHIN the batch, removes covered tokens via the same boundary-event
    running sum, and commits the batch's span hashes — first-arrival
    occurrences survive across the stream's lifetime.

    When arrival order matches id order the accumulated output EQUALS the
    batch operator over the full corpus (the batch winner min(id, pos) IS
    the first arrival) — asserted across restarts in tests/test_streaming.py.
    Same ``foreachBatch`` + queryable-store design and ``added_batch``
    replay fence as :func:`streaming_paragraph_dedup`.
    """
    process = substring_dedup_batch(store, id_col, text_col, k, out_table, seen_table)
    return _foreach_batch_available_now(docs, process, checkpoint)


def substring_dedup_batch(
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    out_table: str = "clean_docs_substr",
    seen_table: str = "seen_spans",
):
    """Per-microbatch callable behind :func:`streaming_substring_dedup` —
    exposed for direct replay testing and non-streaming incremental runs."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        toks = F.split(F.trim(F.col(text_col)), r"\s+")
        docs = batch_df.select(F.col(id_col).alias("__d"), toks.alias("tk"))
        args = ", ".join(f"element_at(tk, i + {j})" for j in range(k))
        occ = docs.where(F.size("tk") >= k).select(
            "__d",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(tk) - {k - 1}),"
                    f" i -> xxhash64({args}))"
                )
            ).alias("pos", "h"),
        )
        winners = occ.groupBy("h").agg(
            F.min(F.struct("__d", "pos")).alias("w"), F.count("*").alias("n_occ")
        )
        dup = (
            occ.join(winners.where(F.col("n_occ") > 1), "h")
            .where((F.col("__d") != F.col("w.__d")) | (F.col("pos") != F.col("w.pos")))
            .select("__d", "pos")
        )
        new_hashes = occ.select("h").distinct()
        if store.exists(seen_table):
            prior = (
                store.read(spark, seen_table)
                .where(F.col("added_batch") < F.lit(batch_id))
                .select(F.col("__h").alias("h"))
            )
            dup = dup.unionByName(
                occ.join(prior, "h").select("__d", "pos")
            ).distinct()
            # commit only UNSEEN hashes — re-merging a prior span would bump
            # its added_batch past the fence and break replay idempotence
            new_hashes = new_hashes.join(prior, "h", "left_anti")
        events = dup.select(
            "__d", F.col("pos").alias("j"), F.lit(1).alias("delta")
        ).unionByName(
            dup.select("__d", (F.col("pos") + k).alias("j"), F.lit(-1).alias("delta"))
        )
        net = events.groupBy("__d", "j").agg(F.sum("delta").alias("nd"))
        tokens = docs.select("__d", F.posexplode("tk").alias("j", "tok"))
        w = Window.partitionBy("__d").orderBy("j")
        cov = tokens.join(net, ["__d", "j"], "left").withColumn(
            "cum", F.sum(F.coalesce("nd", F.lit(0))).over(w)
        )
        rebuilt = (
            cov.where(F.col("cum") <= 0)
            .groupBy("__d")
            .agg(
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(sort_array(collect_list(struct(j, tok))),"
                        " x -> x.tok)"
                    ),
                ).alias("clean_text"),
                F.count("*").cast("long").alias("n_kept"),
            )
        )
        out = (
            docs.select("__d", F.size("tk").cast("long").alias("n_total"))
            .join(rebuilt, "__d", "left")
            .select(
                F.col("__d").alias(id_col),
                F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
                "n_total",
            )
        )
        store.merge(spark, out_table, out, keys=[id_col])
        store.merge(
            spark, seen_table,
            new_hashes.select(F.col("h").alias("__h"))
            .withColumn("added_batch", F.lit(batch_id).cast("long")),
            keys=["__h"],
        )

    return process


def streaming_hll_distinct(
    docs: DataFrame,
    store,
    checkpoint: str,
    key_col: str,
    group_col: str,
    p: int = 12,
    regs_table: str = "hll_regs",
):
    """Continuously-running twin of :func:`operators.sketches.hll_distinct`:
    each microbatch folds its rows' (bucket, rho) pairs into a persistent
    per-group register table by MAX — the HLL merge is lossless, so the
    accumulated registers (and therefore the estimate, an exact function of
    the register multiset) equal the batch sketch over everything that ever
    arrived, regardless of chunking, restarts or at-least-once replays
    (max is idempotent — this twin needs NO batch-id fence). State is
    groups x 2^p registers, independent of stream length: the property
    that makes sketches the unbounded-stream answer where exact distinct
    state grows forever.
    """
    process = hll_batch(store, key_col, group_col, p, regs_table)
    return _foreach_batch_available_now(docs, process, checkpoint)


def hll_batch(
    store,
    key_col: str,
    group_col: str,
    p: int = 12,
    regs_table: str = "hll_regs",
):
    """Per-microbatch register fold behind :func:`streaming_hll_distinct`."""
    from german_newspaper_crawler_spark.functions.hashing import hash64
    from german_newspaper_crawler_spark.operators.sketches import _hll_max_rank

    max_rank = _hll_max_rank(p)  # 61 - p over the 60-bit shared hash

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        m = 1 << p
        h = hash64(F.col(key_col).cast("string"))
        w = F.shiftright(h, p)
        rho = F.when(w == 0, F.lit(max_rank)).otherwise(
            F.lit(max_rank) - F.length(F.bin(w))
        )
        regs = (
            batch_df.where(F.col(key_col).isNotNull())
            .select(
                F.col(group_col).alias("g"),
                F.pmod(h, F.lit(m)).alias("bucket"),
                rho.alias("rho"),
            )
            .groupBy("g", "bucket")
            .agg(F.max("rho").alias("M"))
        )
        if store.exists(regs_table):
            prior = store.read(spark, regs_table)
            regs = (
                regs.unionByName(prior)
                .groupBy("g", "bucket")
                .agg(F.max("M").alias("M"))
            )
        store.overwrite(regs_table, regs)

    return process


def hll_estimate(spark, store, p: int = 12, regs_table: str = "hll_regs"):
    """(group, est_distinct[4dp]) from the accumulated register table —
    the same exact-bigint harmonic sum as the batch operator. ``p`` must
    match the precision the registers were built with (rho ∈ [1, 61-p])."""
    from german_newspaper_crawler_spark.operators.sketches import _hll_max_rank

    m = 1 << p
    max_rank = _hll_max_rank(p)
    alpha = 0.7213 / (1 + 1.079 / m)
    per_group = store.read(spark, regs_table).groupBy("g").agg(
        F.sum(F.expr(f"shiftleft(1L, {max_rank} - M)")).alias("S"),
        F.count("*").alias("n_regs"),
    )
    zeros = F.lit(m) - F.col("n_regs")
    total = F.col("S") + zeros * F.lit(1 << max_rank)
    e_raw = F.lit(alpha * m * m * float(1 << max_rank)) / total.cast("double")
    est = F.when(
        (e_raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(e_raw)
    return per_group.select("g", F.round(est, 4).alias("est_distinct"))


def streaming_countmin(
    docs: DataFrame,
    store,
    checkpoint: str,
    key_col: str,
    d: int = 3,
    w: int = 2048,
    cells_table: str = "cm_cells",
):
    """Continuously-running twin of
    :func:`operators.sketches.countmin_estimate`: each microbatch folds its
    rows' cell increments into a persistent ``d × w`` counter table by SUM.
    Unlike the HLL twin's idempotent MAX-merge, addition is NOT replay-safe,
    so every cell carries a ``last_batch`` high-water: a replayed batch
    (at-least-once delivery, restart re-emission) finds its own batch id
    already recorded on every cell it touched and adds nothing — and
    because the fold commits as ONE atomic snapshot overwrite, a batch's
    counts and its fence can never be half-applied. Counter state stays
    ``d × w`` cells regardless of stream length (the overwrite is of a
    bounded table — the property that makes the sketch the unbounded-stream
    answer where exact per-key state grows forever).
    """
    process = countmin_batch(store, key_col, d, w, cells_table)
    return _foreach_batch_available_now(docs, process, checkpoint)


def _cm_cell_exprs(key_col: str, d: int, w: int):
    """(row-explode, cell-index) expressions shared by the fold and the
    estimate read — identical to the batch operator's so accumulated
    counters are bit-identical to a one-shot build over the same rows."""
    from german_newspaper_crawler_spark.functions.hashing import hash64

    rows = F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("r")
    cell_of = F.pmod(
        hash64(F.concat(F.col("k").cast("string"), F.lit("#"), F.col("r"))),
        F.lit(w),
    )
    return rows, cell_of


def _fenced_sum_batch(
    store, table: str, keys: list[str], count_col: str, cells
):
    """Per-microbatch fenced SUM-merge of the row counts per ``keys`` of
    ``cells(batch_df)`` into ``table`` (*keys, count_col, last_batch): the
    fold behind the Count-Min and histogram twins. Every cell carries the
    ``last_batch`` high-water of the batches added to it, and a batch adds
    its increment only where its id is beyond that mark — a replayed batch
    adds nothing. Counts and fence commit as ONE snapshot overwrite."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bc = (
            cells(batch_df)
            .groupBy(*keys)
            .agg(F.count("*").cast("long").alias("bn"))
        )
        if store.exists(table):
            prior = store.read(batch_df.sparkSession, table)
            merged = prior.join(bc, keys, "full_outer").select(
                *keys,
                (
                    F.coalesce(count_col, F.lit(0))
                    + F.when(
                        F.lit(batch_id) > F.coalesce("last_batch", F.lit(-1)),
                        F.coalesce("bn", F.lit(0)),
                    ).otherwise(F.lit(0))
                ).cast("long").alias(count_col),
                F.greatest(
                    F.coalesce("last_batch", F.lit(-1)),
                    F.lit(batch_id).cast("long"),
                ).alias("last_batch"),
            )
        else:
            merged = bc.select(
                *keys,
                F.col("bn").alias(count_col),
                F.lit(batch_id).cast("long").alias("last_batch"),
            )
        store.overwrite(table, merged)

    return process


def countmin_batch(
    store,
    key_col: str,
    d: int = 3,
    w: int = 2048,
    cells_table: str = "cm_cells",
):
    """Per-microbatch counter fold behind :func:`streaming_countmin` —
    exposed for direct replay testing and non-streaming incremental runs."""
    rows, cell_of = _cm_cell_exprs(key_col, d, w)

    def cells(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.where(F.col(key_col).isNotNull())
            .select(F.col(key_col).alias("k"), rows)
            .withColumn("c", cell_of)
        )

    return _fenced_sum_batch(store, cells_table, ["r", "c"], "n", cells)


def countmin_stream_estimate(
    spark,
    store,
    queries: DataFrame,
    key_col: str,
    d: int = 3,
    w: int = 2048,
    cells_table: str = "cm_cells",
):
    """(key, est_count) point estimates from the accumulated counter table —
    the same min-over-d-cells read as the batch operator; counters are
    exact bigints, so after any chunking/restart history the estimates
    equal a one-shot :func:`operators.sketches.countmin_estimate` over
    everything that ever arrived."""
    rows, cell_of = _cm_cell_exprs(key_col, d, w)
    cells = store.read(spark, cells_table).select("r", "c", "n")
    q = (
        queries.select(F.col(key_col).alias("k")).distinct()
        .select("k", rows)
        .withColumn("c", cell_of)
    )
    return (
        q.join(F.broadcast(cells), ["r", "c"], "left")
        .groupBy("k")
        .agg(F.min(F.coalesce("n", F.lit(0))).cast("long").alias("est_count"))
        .select(F.col("k").alias(key_col), "est_count")
    )


def streaming_quantile_hist(
    docs: DataFrame,
    store,
    checkpoint: str,
    value_col: str,
    group_col: str,
    lo: float,
    hi: float,
    n_bins: int = 64,
    bins_table: str = "qh_bins",
):
    """Continuously-running twin of
    :func:`operators.sketches.quantile_hist`: each microbatch folds its
    rows' bin counts into a persistent (group × n_bins) counter table by
    SUM. Bin counts are additive like Count-Min cells (and unlike the HLL
    twin's idempotent max-merge), so the same per-cell ``last_batch``
    fence applies: a replayed batch finds its own batch id recorded on
    every (g, b) cell it touched and adds nothing, and counts + fence
    commit as ONE atomic snapshot overwrite. State stays groups × n_bins
    cells regardless of stream length."""
    process = quantile_hist_batch(
        store, value_col, group_col, lo, hi, n_bins, bins_table
    )
    return _foreach_batch_available_now(docs, process, checkpoint)


def quantile_hist_batch(
    store,
    value_col: str,
    group_col: str,
    lo: float,
    hi: float,
    n_bins: int = 64,
    bins_table: str = "qh_bins",
):
    """Per-microbatch bin-count fold behind :func:`streaming_quantile_hist`
    — exposed for direct replay testing and non-streaming incremental
    runs. The same fenced fold as :func:`countmin_batch`."""
    from german_newspaper_crawler_spark.operators.sketches import _qh_bin_expr

    idx = _qh_bin_expr(value_col, lo, hi, n_bins)

    def cells(batch_df: DataFrame) -> DataFrame:
        return batch_df.where(F.col(value_col).isNotNull()).select(
            F.col(group_col).alias("g"), idx.alias("b")
        )

    return _fenced_sum_batch(store, bins_table, ["g", "b"], "cnt", cells)


def quantile_hist_stream_estimate(
    spark,
    store,
    group_col: str,
    qs: tuple[float, ...],
    lo: float,
    hi: float,
    n_bins: int = 64,
    bins_table: str = "qh_bins",
):
    """(group, q, est_q, n_rows) from the accumulated bin table — the same
    cum-window/interpolation read as the batch operator; counts are exact
    bigints, so after any chunking/restart history the estimates equal a
    one-shot :func:`operators.sketches.quantile_hist` over everything that
    ever arrived."""
    from german_newspaper_crawler_spark.operators.sketches import (
        _qh_estimate_from_bins,
    )

    binned = store.read(spark, bins_table).select("g", "b", "cnt")
    return _qh_estimate_from_bins(binned, qs, lo, hi, n_bins, group_col)
