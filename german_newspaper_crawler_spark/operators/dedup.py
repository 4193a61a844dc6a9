"""Deduplication operators — exact, banded-hamming (pHash), n-gram Jaccard,
MinHash+LSH, SimHash.

The reference dedups on exact sha256 identity only (SURVEY §1.4). The graft
adds the near-duplicate family a 100 TB training-data pipeline needs. Design
rules at scale:

* never enumerate O(n^2) pairs — candidates come from an inverted-index or
  banded-LSH join whose shuffle key is short (shingle / band bucket),
* everything is built-in DataFrame ops (explode/groupBy/join) so Catalyst
  handles partial aggregation and AQE handles skewed shingles,
* the shared ``hash64`` keeps signatures reproducible across engines (and
  across runs — required for incremental dedup state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from german_newspaper_crawler_spark.functions.hashing import hash64


# analyzed-plan nodes that make a lineage more than a projected/filtered scan
_NON_SCAN_NODES = frozenset({
    "Aggregate", "Distinct", "Deduplicate", "Join", "Window", "Repartition",
    "RepartitionByExpression", "RebalancePartitions", "Sort", "Generate",
    "Union", "Intersect", "Except",
})


def _plan_node_names(plan) -> set[str]:
    """Class names of every node in a JVM logical plan (expressions and
    column names are not nodes, so a column called ``Joined`` is not a
    Join)."""
    names, stack = set(), [plan]
    while stack:
        node = stack.pop()
        names.add(node.nodeName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Repartition up to the session's shuffle parallelism when the input
    plan has fewer partitions. A single-file / few-row-group parquet scan
    yields 1-2 scan tasks, which serializes every narrow transform above it
    (split/hash/shingle — measured 2 of 32 cores busy on the sf1.0 documents
    scan); one cheap exchange of the narrow input buys full-width execution
    of the expensive per-row work (guide §2.2 "fewer, larger map tasks" in
    reverse: here the scan is too narrow, not too wide). No-op whenever the
    scan is already at least as wide as ``spark.sql.shuffle.partitions`` —
    i.e. always at cluster scale — so the extra exchange exists exactly when
    it buys parallelism."""
    # a streaming frame has no partitions to count (.rdd raises)
    if df.isStreaming:
        return df
    # only probe scan-shaped lineages (project/filter over a relation):
    # anything that already passed a shuffle (aggregate/join/window/
    # repartition...) is as wide as the session's shuffle parallelism, and
    # calling .rdd on such an adaptive plan would eagerly materialize its
    # query stages at plan-build time
    if _plan_node_names(df._jdf.queryExecution().analyzed()) & _NON_SCAN_NODES:
        return df
    p = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct n-word shingles per row → (id, shingle). JVM-side transform,
    no UDF; rows with < n tokens are dropped (both engines agree). Widened
    first so the split + shingle concat parallelize over single-file scans
    (no-op on wide scans)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    df2 = (
        widen_if_narrow(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), toks.alias("tk"))
        .where(F.size("tk") >= n)
    )
    parts = ", ' ', ".join(f"element_at(tk, i + {j})" for j in range(n))
    shingles = F.expr(
        f"transform(sequence(1, size(tk) - {n - 1}), i -> concat({parts}))"
    )
    return df2.select(
        id_col, F.explode(F.array_distinct(shingles)).alias("shingle")
    )


def banded_hamming_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    n_bands: int = 4,
    band_bits: int = 15,
    max_hamming: int = 4,
) -> DataFrame:
    """pHash-style near-dup pairs: LSH banding on bit-slices of an integer
    hash, then exact hamming verify with ``bit_count(xor)``.

    Any two hashes with hamming <= n_bands - 1 share at least one unchanged
    band (pigeonhole), so recall is exact for max_hamming < n_bands; larger
    radii trade recall for the enormous candidate reduction. Output columns:
    (a, b, hamming).
    """
    mask = (1 << band_bits) - 1
    bands = df.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("h"),
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("b"),
    ).withColumn("band_val", F.expr(f"shiftright(h, {band_bits} * b) & {mask}"))
    left = bands.select(
        F.col("id").alias("a"), F.col("h").alias("pa"), "b", "band_val"
    )
    right = bands.select(
        F.col("id").alias("b_id"), F.col("h").alias("pb"), "b", "band_val"
    )
    hamming = F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
    # hamming verify BEFORE the distinct: the per-row bit_count is far
    # cheaper than deduplicating the multi-band candidate stream, so the
    # distinct's exchange sees only verified pairs (identical output —
    # (pa, pb) are functions of (a, b))
    return (
        left.join(right, ["b", "band_val"])
        .where(F.col("a") < F.col("b_id"))
        .withColumn("hamming", hamming.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select(F.col("a"), F.col("b_id").alias("b"), "hamming")
        .distinct()
    )


def phash_suppress_near_dups(
    batch: DataFrame,
    seen: DataFrame | None,
    id_col: str,
    hash_col: str = "phash",
    order_cols: list[str] | None = None,
    max_hamming: int = 4,
    n_bands: int | None = None,
    band_bits: int | None = None,
) -> DataFrame:
    """Post-fetch pHash near-dup suppression — the crawl's G6 leg, the
    distributed replacement for the reference's hash-membership skip
    (``lib/common/web_requests.py:182-193``) generalized from exact sha256
    equality to hamming ≤ t on the 64-bit pHash.

    Two suppression sources, both through the banded-LSH candidate join
    (shuffle keys are (band, 15-bit slice) — never an all-pairs compare):

    * cross-round: batch rows within ``max_hamming`` of ANY hash in ``seen``
      (the persistent accepted-phash side table),
    * within-batch: rows within ``max_hamming`` of an EARLIER batch row by
      ``order_cols`` (crawl pop order: priority, seq). Earlier-neighbor is a
      superset of a sequential accept loop on chain cases (A~B~C with A≁C:
      sequential re-accepts C, this suppresses it) — the deviation is
      one-sided (never emits a duplicate the sequential loop would skip)
      and deterministic in the explicit order key. For exact duplicates
      (hamming 0) the two rules coincide.

    Banding defaults guarantee exact recall at the configured radius:
    ``n_bands`` resolves to ``max_hamming + 1`` (pigeonhole — any pair within
    ``max_hamming`` shares at least one unchanged band) and ``band_bits`` to
    ``64 // n_bands`` (e.g. 5 bands x 12 bits at the default radius 4; a
    differing bit above ``n_bands * band_bits`` only strengthens recall).
    Passing ``n_bands <= max_hamming`` explicitly makes recall probabilistic
    at the boundary radius.

    Returns ``batch`` minus suppressed rows, schema unchanged.
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    if band_bits is None:
        band_bits = 64 // n_bands
    mask = (1 << band_bits) - 1
    order_cols = list(order_cols or [])
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("__b")

    nb = batch.select(
        F.col(id_col).alias("__bid"), F.col(hash_col).alias("__bh"),
        *order_cols, band_idx,
    ).withColumn("__bv", F.expr(f"shiftright(__bh, {band_bits} * __b) & {mask}"))
    ham = F.bit_count(F.col("__bh").bitwiseXOR(F.col("__sh")))

    hits = None
    if seen is not None:
        sb = (
            seen.select(F.col(hash_col).alias("__sh")).distinct()
            .select("__sh", band_idx)
            .withColumn("__bv", F.expr(f"shiftright(__sh, {band_bits} * __b) & {mask}"))
        )
        hits = (
            nb.join(sb, ["__b", "__bv"])
            .where(ham <= max_hamming)
            .select(F.col("__bid").alias(id_col))
            .distinct()
        )
    if order_cols:
        earlier = nb.select(
            "__b", "__bv", F.col("__bh").alias("__sh"),
            F.struct(*[F.col(c) for c in order_cols]).alias("__ord_a"),
        )
        later = nb.select(
            "__b", "__bv", "__bh", "__bid",
            F.struct(*[F.col(c) for c in order_cols]).alias("__ord_b"),
        )
        wb = (
            later.join(earlier, ["__b", "__bv"])
            .where((F.col("__ord_a") < F.col("__ord_b")) & (ham <= max_hamming))
            .select(F.col("__bid").alias(id_col))
            .distinct()
        )
        hits = wb if hits is None else hits.unionByName(wb).distinct()
    if hits is None:
        return batch
    return batch.join(hits, id_col, "left_anti")


def _attach_df(arr0: DataFrame, id_col: str) -> DataFrame:
    """Explode the per-doc shingle arrays and attach each shingle's corpus
    document frequency: (id, shingle, __df).

    The df attach ships only the df ≥ 2 band through the join (singletons —
    the overwhelming majority of a real corpus's shingles — default to
    __df = 1 via the left join's coalesce). That band is aggregated
    (partial-agg groupBy, skew-safe for mega-df stop shingles) and small on
    real corpora, so AQE converts the join to a broadcast hash join at
    runtime and the full explode never shuffles for the attach; when the
    band is genuinely large the same plan degrades to a sort-merge join.
    ``arr0`` is a local checkpoint (:func:`_shingle_arrays`), so the
    explode feeding the df count and the probe side reads the materialized
    arrays twice instead of re-splitting text.
    """
    sh = arr0.select(id_col, F.explode("sh_arr").alias("shingle"))
    dfreq2 = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("__df"))
        .where(F.col("__df") >= 2)
    )
    return sh.join(dfreq2, "shingle", "left").select(
        id_col, "shingle", F.coalesce("__df", F.lit(1)).alias("__df")
    )


def _capped_inverted_index(arr0: DataFrame, id_col: str, max_df: int):
    """Shared df-capped inverted-index core: (common, sizes) where ``common``
    is (a, b, c=|A∩B|) over shingles with df in [2, max_df] and ``sizes`` is
    the per-doc count of df ≤ max_df shingles (incl. singletons).

    Pass 1: df counts per shingle — partial-aggregatable (map-side combine),
    NOT a collect_list over the (overwhelmingly singleton) posting lists.
    Pass 2: only shingles with df in [2, max_df] — a tiny, broadcast-sized
    key set on real corpora — build sorted posting lists and emit their
    ≤ k²/2 pairs JVM-side.
    """
    att = _attach_df(arr0, id_col)
    sizes = (
        att.where(F.col("__df") <= max_df)
        .groupBy(id_col)
        .agg(F.count("*").alias("n_sh"))
    )
    groups = (
        att.where((F.col("__df") >= 2) & (F.col("__df") <= max_df))
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ds"))
    )
    # two-arg lambda binds the outer posting once per iteration (an
    # element_at(ds, i) inside the inner lambda would re-probe per partner)
    pair_structs = F.expr(
        """flatten(transform(ds, (x, i0) ->
             transform(slice(ds, i0 + 2, size(ds)),
               y -> struct(x AS a, y AS b))))"""
    )
    common = (
        groups.select(F.explode(pair_structs).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    return common, sizes


def _prefix_filtered_pairs(
    arr0: DataFrame, id_col: str, max_df: int, threshold: float
) -> DataFrame:
    """PPJoin-style prefix-filtered exact Jaccard self-join (Xiao et al.,
    WWW'08 "Efficient Similarity Joins for Near Duplicate Detection";
    Chaudhuri et al. SSJoin) — LOSSLESS for the given threshold, a pure
    candidate-reduction over the plain inverted-index join.

    Global shingle order = ascending document frequency (rare-first, the
    standard choice: rare shingles make short posting lists). Each doc
    indexes only its first ``p = n - ceil(t'*n) + 1`` shingles under that
    order; the prefix-filter theorem guarantees every pair with
    jaccard >= t' shares a PREFIX shingle. Any shared shingle has df >= 2
    by definition, so df=1 postings are dropped losslessly — with
    singletons sorted first they fill prefix slots for free. Candidates
    pass two per-occurrence filters before the exact verify:

    * size filter: min(na, nb) >= t' * max(na, nb), else jaccard < t';
    * positional filter (PPJoin): for a co-occurrence at 1-based positions
      (pa, pb) of the df-sorted arrays, overlap <= 1 + min(na-pa, nb-pb)
      whenever no earlier common shingle exists — both arrays share the
      global sort order, so the FIRST common shingle gives the weakest
      (largest) such bound, and keep-if-ANY-occurrence-passes is exactly
      keep-if-first-occurrence-passes: lossless. jaccard >= t' needs
      overlap*(1+t') >= (na+nb)*t'.

    Surviving candidates are verified EXACTLY via array_intersect on the
    per-doc shingle arrays — computed INSIDE the emission lambda, because
    each posting carries its doc's df >= 2 shingles (split by hash parity
    for the two-stage verify — see the inline comments; df=1 elements can
    never intersect and are dropped from the verify arrays only, not from
    n_sh). That trades a wider posting shuffle (array payload, bytes ∝
    postings × doc-array size) for the removal of the entire verify-join
    subtree: no candidate-stream exchange, no join back to a doc-array
    table, no distinct over millions of candidates (measured sf1.0: 11M
    surviving candidates for 2.5k verified pairs — two candidate exchanges
    + two sort-merge joins replaced by a filter that never leaves the
    stage).
    Duplicates from multi-shingle candidates are dropped on the tiny
    verified output. (A numpy mapInArrow verifier was also measured: its
    vectorized membership test is ~10x cheaper than the interpreted
    array_intersect, but the JVM->Arrow conversion of the duplicated array
    payload cost 3x more than it saved — 416 vs 145 executor-core-seconds
    for the stage — so the all-JVM form wins.)

    ``t' = threshold - 1e-6`` absorbs the 6dp rounding of the emitted
    jaccard: a pair whose rounded value reaches the threshold can never be
    pruned by bounds computed at t'.

    Scale shape: one partial-agg shuffle for the df >= 2 band, a broadcast
    df attach (AQE; SMJ fallback when the band is large), one doc-local
    groupBy building the sorted arrays, one groupBy(shingle) over PREFIX
    postings (lists bounded by max_df AND prefix membership; per-group
    state ≤ max_df × doc-array bytes), and a final distinct over verified
    pairs only. No step is quadratic in a stop-shingle's df.
    """
    t = max(threshold - 1e-6, 0.0)
    # Verify arrays carry only df >= 2 elements, split by hash parity:
    # * a df=1 shingle exists in exactly one doc, so it can never be in an
    #   intersection — dropping singletons from the verify arrays changes
    #   no |A∩B| while shrinking both the posting payload and every
    #   intersect's hash build (the dominant verify cost; on real corpora
    #   singletons are the overwhelming majority of shingles),
    # * the parity split (ae = even xxhash64 values, ao = odd) enables a
    #   sound two-stage verify in the emission: c = |Ae∩Be| + |Ao∩Bo| and
    #   |Ao∩Bo| <= min(|Ao|, |Bo|), so a candidate whose even-half count
    #   ce leaves ce + min(|Ao|, |Bo|) below the required overlap is
    #   rejected after half the intersect work — lossless, because for any
    #   qualifying pair the bound >= c >= t'(na+nb)/(1+t').
    # n_sh stays the FULL df <= max_df count (the jaccard denominator and
    # the size/positional bounds are over the whole capped set).
    docs = (
        _attach_df(arr0, id_col)
        .where(F.col("__df") <= max_df)
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("shingle")))
            ).alias("ss")
        )
        .select(
            F.col(id_col).alias("__d"),
            F.expr(
                "transform(filter(ss, e -> e.__df >= 2 and (e.shingle & 1) = 0),"
                " e -> e.shingle)"
            ).alias("ae"),
            F.expr(
                "transform(filter(ss, e -> e.__df >= 2 and (e.shingle & 1) = 1),"
                " e -> e.shingle)"
            ).alias("ao"),
            F.size("ss").cast("int").alias("n_sh"),
            F.col("ss").alias("ss"),
        )
    )
    prefix = (
        docs.withColumn(
            "__p",
            (
                F.col("n_sh")
                - F.ceil(F.lit(t) * F.col("n_sh"))
                + F.lit(1)
            ).cast("int"),
        )
        .select(
            "__d", "n_sh", "ae", "ao",
            F.posexplode(F.expr("slice(ss, 1, __p)")).alias("pos0", "e"),
        )
        .where(F.col("e.__df") >= 2)
        .select(
            F.col("e.shingle").alias("shingle"), "__d", "n_sh",
            (F.col("pos0") + 1).alias("pos"), "ae", "ao",
        )
    )
    # sorted (doc, size, pos, arrays) posting lists -> ordered pairs with
    # the filters AND the exact verify evaluated during emission
    groups = prefix.groupBy("shingle").agg(
        F.array_sort(
            F.collect_list(F.struct("__d", "n_sh", "pos", "ae", "ao"))
        ).alias("ds")
    ).where(F.size("ds") >= 2)
    # Emission shape (measured on the sf1.0 corpus, 31.8M raw pairs):
    # * two-arg lambda (x, i0) binds the outer posting once instead of
    #   element_at(ds, i) re-probes per inner element,
    # * the cheap size + positional double conditions short-circuit before
    #   the array_intersect runs (31.8M -> 11M intersect evaluations at
    #   sf1.0),
    # * {t!r}D literals force DOUBLE arithmetic — a bare 0.499999 parses as
    #   DECIMAL(17,6) and drags the whole filter into interpreted decimal
    #   multiplication (measured ~2x on the emission stage),
    # * each intersect half is computed ONCE per candidate: SQL lambdas
    #   have no let-binding, so counts are bound through single-element-
    #   array transforms (array(c) -> struct),
    # * the verify runs in two stages on the parity-split arrays: the
    #   even-half count ce first, then the sound bound
    #   (ce + min(|Ao|, |Bo|))(1+t') >= (na+nb)t' rejects most random
    #   candidates after half the intersect work (pruned candidates emit a
    #   constant jaccard=-1 sentinel struct — no typed NULL, so the
    #   expression stays generic over the id type — which the final
    #   threshold filter drops; with threshold 0 the bound always passes
    #   and the sentinel never occurs),
    # * the rounded-jaccard threshold test then filters the candidate
    #   structs, so only verified pairs ever leave the emission.
    # (df >= 2 counts ALL docs holding the shingle; a prefix posting list
    # can still be a singleton when only one of them has it in-prefix.)
    pair_structs = F.expr(
        f"""flatten(transform(ds, (x, i0) ->
              filter(
                transform(
                  filter(slice(ds, i0 + 2, size(ds)),
                    y -> double(least(x.n_sh, y.n_sh))
                           >= {t!r}D * double(greatest(x.n_sh, y.n_sh))
                     and double(1 + least(x.n_sh - x.pos, y.n_sh - y.pos))
                           * (1D + {t!r}D)
                           >= double(x.n_sh + y.n_sh) * {t!r}D),
                  y -> element_at(
                         transform(array(size(array_intersect(x.ae, y.ae))),
                           ce -> if(
                             double(ce + least(size(x.ao), size(y.ao)))
                                 * (1D + {t!r}D)
                               >= double(x.n_sh + y.n_sh) * {t!r}D,
                             element_at(
                               transform(
                                 array(ce + size(array_intersect(x.ao, y.ao))),
                                 c -> struct(x.__d AS a, y.__d AS b,
                                             round(double(c)
                                                   / double(x.n_sh + y.n_sh
                                                            - c), 6)
                                               AS jaccard)), 1),
                             struct(x.__d AS a, y.__d AS b,
                                    -1D AS jaccard))), 1)),
                p -> p.jaccard >= {threshold!r}D)))"""
    )
    return (
        groups.select(F.explode(pair_structs).alias("p"))
        .select("p.a", "p.b", "p.jaccard")
        .distinct()
    )


def _shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Per-doc DISTINCT shingle-hash arrays (id, sh_arr) keyed by xxhash64 —
    8-byte shuffle/cache keys instead of ~30-byte strings (the payload that
    dominates the shuffle at corpus scale). The hash is computed directly
    over the n token columns inside the transform (multi-arg xxhash64), so
    the intermediate concat string is never allocated. Deterministic, so
    results are stable run-to-run; a 64-bit collision merges two shingles
    (P ≈ n²/2⁶⁵ — immaterial next to the near-dup thresholds, and the
    universal trade every MinHash-family system makes).

    The input is widened first (:func:`widen_if_narrow`) so the regex split
    and the per-token hashing — the dominant narrow cost — parallelize even
    over a single-file scan. Materialized as arrays (strictly smaller than
    the exploded rows) with an eager ``localCheckpoint``, because the
    downstream df count and df attach both explode it: the arrays are
    evaluated once, eagerly, when the frame is built, and Spark's
    ContextCleaner frees the checkpoint's blocks once no plan references
    them — there is no handle to release. The
    checkpoint is a plan leaf (``LogicalRDD``), which also keeps the
    optimizer from inlining the shingle expression into filters inferred
    above a later explode of ``sh_arr`` (InferFiltersFromGenerate
    re-evaluates a non-cheap generator child per row otherwise — measured
    35x on the sf1.0 corpus)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    df2 = (
        widen_if_narrow(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), toks.alias("tk"))
        .where(F.size("tk") >= n)
    )
    args = ", ".join(f"element_at(tk, i + {j})" for j in range(n))
    shingles = F.expr(
        f"transform(sequence(1, size(tk) - {n - 1}), i -> xxhash64({args}))"
    )
    return df2.select(
        id_col, F.array_distinct(shingles).alias("sh_arr")
    ).localCheckpoint()


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard over shingle posting lists.

    jaccard(A,B) = |A∩B| / (|A|+|B|-|A∩B|); candidates come from shared
    postings — no pair enumeration. Threshold is applied to the
    6-dp-rounded value (cross-engine boundary agreement).

    ``max_df`` caps shingle document frequency BEFORE pairing: a
    stop-shingle shared by k docs would otherwise create a k² bucket —
    quadratic skew at web scale. Shingles with df > max_df are dropped from
    both the intersection and the per-doc sizes (Jaccard over informative
    shingles — the standard near-dup practice); high-df shingles carry no
    near-dup signal anyway. At 10^8 docs, max_df ≈ max(1000, 0.001% of N).
    The candidates are pruned PPJoin-style before the exact verify — see
    :func:`_prefix_filtered_pairs`.
    """
    arr0 = _shingle_arrays(df, id_col, text_col, n)
    return _prefix_filtered_pairs(arr0, id_col, max_df, threshold)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    band_rows: int = 2,
) -> DataFrame:
    """MinHash signature + LSH banding candidate pairs.

    k independent hash families h_i(s) = hash64(s # i); signature = min per
    family; bands of ``band_rows`` consecutive values become bucket keys; any
    shared bucket yields a candidate pair. Shuffle keys are (band, short
    string) — this is the formulation that survives 10^10 docs.
    """
    sh = word_shingles(df, id_col, text_col, n)
    seeded = sh.select(
        id_col,
        "shingle",
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("seed"),
    ).withColumn(
        "hv",
        hash64(F.concat(F.col("shingle"), F.lit("#"), F.col("seed").cast("string"))),
    )
    mh = seeded.groupBy(id_col, "seed").agg(F.min("hv").alias("v"))
    bands = (
        mh.withColumn("band", (F.col("seed") / band_rows).cast("int"))
        .groupBy(id_col, "band")
        .agg(
            F.concat_ws(
                ":",
                F.expr("transform(sort_array(collect_list(struct(seed, v))), x -> cast(x.v as string))"),
            ).alias("key")
        )
    )
    a = bands.select(F.col(id_col).alias("a"), "band", "key")
    b = bands.select(F.col(id_col).alias("b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """SimHash fingerprint from distinct-token hash bit votes.

    Pure relational formulation: explode tokens × bit positions, sum ±1 votes
    per (doc, bit), set bit where the vote is positive. 60 bits so the
    fingerprint stays within the shared 60-bit hash domain (and a signed
    int64). At extreme scale the same result comes cheaper from a pandas UDF
    with numpy popcount tables; this formulation keeps it oracle-checkable
    and shuffle-light (bits explode AFTER token dedup).
    """
    toks = (
        df.select(F.col(id_col), F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
        .withColumn("h", hash64(F.col("tok")))
    )
    votes = (
        toks.select(
            id_col, "h", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j")
        )
        .withColumn(
            "v", F.when(F.expr("shiftright(h, j) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
        )
        .groupBy(id_col, "j")
        .agg(F.sum("v").alias("vote"))
    )
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("vote") > 0, F.expr("shiftleft(1L, cast(j as int))")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("simhash")
    )


def containment_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    threshold: float = 0.9, max_df: int = 100,
) -> DataFrame:
    """Set-containment near-dup join (the LCJoin problem, ICDE 2019):
    directional pairs (inner, outer) with containment(inner→outer) =
    |A∩B| / |A| >= threshold on distinct n-gram shingle sets.

    Catches what Jaccard misses: a long article QUOTING a short one has low
    Jaccard (union dominated by the long doc) but containment ≈ 1.0 — the
    subset/quotation dedup case in training corpora. Candidates come from
    the df-capped inverted index (:func:`_capped_inverted_index`, the same
    ``max_df`` stop-shingle cap as :func:`ngram_jaccard_pairs`); never pair
    enumeration. Output: (inner, outer, containment[6dp]).
    """
    arr0 = _shingle_arrays(df, id_col, text_col, n)
    common, sizes = _capped_inverted_index(arr0, id_col, max_df)
    sa = sizes.select(F.col(id_col).alias("a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("n_sh").alias("nb"))
    both = common.join(sa, "a").join(sb, "b")
    a_in_b = both.select(
        F.col("a").alias("inner"), F.col("b").alias("outer"),
        F.round(F.col("c") / F.col("na"), 6).alias("containment"),
    )
    b_in_a = both.select(
        F.col("b").alias("inner"), F.col("a").alias("outer"),
        F.round(F.col("c") / F.col("nb"), 6).alias("containment"),
    )
    return a_in_b.unionByName(b_in_a).where(F.col("containment") >= threshold)


def remove_repeated_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 10
) -> DataFrame:
    """Exact substring dedup (Lee et al. 2022, arXiv:2107.06499,
    "Deduplicating Training Data Makes Language Models Better" — ExactSubstr):
    every k-token span that occurs more than once corpus-wide is removed
    from all but its first occurrence (first = min (doc, pos), the repo's
    keeper convention); the first-occurrence doc keeps its tokens. Tokens
    covered by ANY duplicate span are dropped; the doc is rebuilt from the
    surviving tokens. No reference analog (nearest: the sha256 whole-doc
    skip, SURVEY §1.4).

    Scale shape (no reference to the paper's suffix array — that is a
    single-machine construction):

    * span occurrences: one posexplode of per-doc k-gram hashes (multi-arg
      xxhash64 inside a transform — no intermediate strings),
    * first occurrence per hash: partial-aggregatable
      ``groupBy(hash).agg(min(struct(doc, pos)), count)`` — never a window
      over the hash (a mega-boilerplate span would serialize),
    * coverage: each duplicate occurrence contributes interval
      [pos, pos+k) as two boundary events (+1 at pos, −1 at pos+k); a
      DOC-LOCAL running sum over token positions marks covered tokens —
      O(doc length) per doc, never the k-fold explode of every duplicate
      window,
    * rebuild: doc-local sort + concat of surviving tokens.

    Output: (id, clean_text, n_kept, n_total) — one row per input doc.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    docs = df.select(F.col(id_col).alias("__d"), toks.alias("tk"))
    args = ", ".join(f"element_at(tk, i + {j})" for j in range(k))
    occ = docs.where(F.size("tk") >= k).select(
        "__d",
        F.posexplode(
            F.expr(f"transform(sequence(1, size(tk) - {k - 1}), i -> xxhash64({args}))")
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
    events = dup.select("__d", F.col("pos").alias("j"), F.lit(1).alias("delta")).unionByName(
        dup.select("__d", (F.col("pos") + k).alias("j"), F.lit(-1).alias("delta"))
    )
    # net delta per boundary, then a doc-local running sum over token index:
    # token j is covered iff the cumulative interval count at j is > 0
    net = events.groupBy("__d", "j").agg(F.sum("delta").alias("nd"))
    tokens = docs.select(
        "__d", F.size("tk").alias("n_total"), F.posexplode("tk").alias("j", "tok")
    )
    w = Window.partitionBy("__d").orderBy("j")
    cov = (
        tokens.join(net, ["__d", "j"], "left")
        .withColumn("cum", F.sum(F.coalesce("nd", F.lit(0))).over(w))
    )
    rebuilt = (
        cov.where(F.col("cum") <= 0)
        .groupBy("__d", "n_total")
        .agg(
            F.concat_ws(
                " ",
                F.expr("transform(sort_array(collect_list(struct(j, tok))), x -> x.tok)"),
            ).alias("clean_text"),
            F.count("*").cast("long").alias("n_kept"),
        )
    )
    return (
        docs.select("__d", F.size("tk").cast("long").alias("n_total"))
        .join(
            rebuilt.select("__d", "clean_text", "n_kept"), "__d", "left"
        )
        .select(
            F.col("__d").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            "n_total",
        )
    )


def paragraph_dedup(
    df: DataFrame, id_col: str, paras_col: str, sep: str = "\n\n"
) -> DataFrame:
    """CCNet-style corpus-wide paragraph dedup (Wenzek et al. 2020,
    arXiv:1911.00359; also RefinedWeb/Dolma line-dedup): every repeated
    paragraph is dropped EXCEPT its first occurrence under the
    deterministic order (id, position) — boilerplate (nav, cookie
    banners, subscription prompts) repeats across pages and would
    otherwise dominate a trained model's data distribution. No reference
    analog (nearest: the document-level sha256 skip, §1.4).

    Input: ``paras_col`` an ``array<string>`` of the document's paragraphs
    in order. Output: one row per input doc —
    (id, clean_text, n_kept, n_total).

    Scale shape: winner-per-paragraph is a partial-aggregatable
    ``groupBy(hash).agg(min(struct(id, pos)))`` — NOT a window over the
    paragraph hash, which would funnel a mega-boilerplate paragraph's 10^7
    occurrences through one ordered partition. The occurrence table joins
    winners on the 8-byte xxhash64 key; rebuild is a doc-local groupBy.
    A 64-bit collision merges two distinct paragraphs (P ≈ n²/2⁶⁵ —
    the MinHash-family trade, see _shingle_arrays).
    """
    # null array elements are ignored (a null paragraph would hash to a
    # null key and spuriously "dedup" against every other null)
    occ = (
        df.select(
            F.col(id_col), F.posexplode(F.col(paras_col)).alias("pos", "para")
        )
        .where(F.col("para").isNotNull())
        .withColumn("__h", hash64(F.col("para")))
    )
    winners = occ.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("w")
    )
    kept = (
        occ.join(winners, "__h")
        .where((F.col(f"w.{id_col}") == F.col(id_col)) & (F.col("w.pos") == F.col("pos")))
        .select(id_col, "pos", "para")
    )
    totals = df.select(
        F.col(id_col),
        F.size(
            F.filter(F.col(paras_col), lambda x: x.isNotNull())
        ).cast("long").alias("n_total"),
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("pos", "para"))).alias("ps")
    ).select(
        id_col,
        F.array_join(F.col("ps").getField("para"), sep).alias("clean_text"),
        F.size("ps").cast("long").alias("n_kept"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            "n_total",
        )
    )
