"""Similarity search over embedding columns (array<float>).

Brute-force cosine is the correctness baseline; the scale path buckets with
LSH (random-hyperplane signs derived from the shared hash64 so buckets are
reproducible) and verifies exactly within buckets. All dot products are
JVM-side ``zip_with``/``aggregate`` over double arrays — no Python in the
hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col: str) -> F.Column:
    return F.expr(f"transform({col}, x -> cast(x as double))")


_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def _cosine(a: str, b: str) -> F.Column:
    dot = F.expr(_DOT.format(a=a, b=b))
    na = F.sqrt(F.expr(_DOT.format(a=a, b=a)))
    nb = F.sqrt(F.expr(_DOT.format(a=b, b=b)))
    return F.round(dot / (na * nb), 6)


def cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.4
) -> DataFrame:
    """All pairs with rounded cosine >= threshold (brute force — correctness
    baseline / within-bucket verifier). Output: (a, b, cos_sim[4dp])."""
    e = df.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
    a = e.select(F.col("id").alias("a"), F.col("v").alias("va"))
    b = e.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("a") < F.col("b")).withColumn("cos6", _cosine("va", "vb"))
    return (
        pairs.where(F.col("cos6") >= threshold)
        .select("a", "b", F.round("cos6", 4).alias("cos_sim"))
    )


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, id_col: str, vec_col: str, k: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbors per query (query side broadcast).

    Deterministic tie-break on (rounded sim desc, neighbor id). Output:
    (query_id, neighbor_id, cos_sim, rk).
    """
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("vq"))
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("vc"))
    scored = q.join(c, F.col("query_id") != F.col("neighbor_id")).withColumn(
        "cos_sim", _cosine("vq", "vc")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rk").cast("long").alias("rk"))
    )


def _hyperplanes(n_tables: int, n_planes: int, dim: int):
    """Deterministic pseudo-gaussian hyperplanes from sha256 of indices —
    reproducible across runs with no RNG state (numpy, driver-side, tiny)."""
    import hashlib as _hl

    import numpy as np

    out = np.empty((n_tables, n_planes, dim), dtype=np.float64)
    for t in range(n_tables):
        for p in range(n_planes):
            h = _hl.sha256(f"lsh:{t}:{p}".encode()).digest()
            rng = np.random.default_rng(int.from_bytes(h[:8], "big"))
            out[t, p] = rng.standard_normal(dim)
    return out


def _with_buckets(
    df: DataFrame, id_col: str, vec_col: str, idname: str, vecname: str,
    planes,
) -> DataFrame:
    """(id, vec) → (id, vec, tbl, bkt) rows, one per LSH table. Bucket signs
    come from one vectorized pandas UDF (numpy matmul over the Arrow batch)
    — a whole table's buckets in one gemm."""
    from pyspark.sql.types import ArrayType, IntegerType

    n_planes = planes.shape[1]
    pow2 = (1 << np.arange(n_planes)).astype(np.int64)  # (P,)

    @F.pandas_udf(ArrayType(IntegerType()))
    def buckets_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])  # (N, D)
        sims = np.einsum("nd,tpd->ntp", m, planes)  # (N, T, P)
        # 9dp-quantize before the sign test: a near-zero plane dot can differ
        # in the last ulp across summation orders (numpy gemm vs the oracle's
        # list_dot_product) and flip a bucket bit — same rule both engines
        codes = ((np.round(sims, 9) >= 0) @ pow2).astype(np.int32)  # (N, T)
        return pd.Series(list(codes))

    d = df.select(
        F.col(id_col).alias(idname), _as_double(vec_col).alias(vecname)
    ).withColumn("__bkts", buckets_udf(F.col(vecname)))
    return d.select(idname, vecname, F.posexplode("__bkts").alias("tbl", "bkt"))


def lsh_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 4,
) -> DataFrame:
    """Embedding near-dup pairs, scale path: LSH bucket candidates + exact
    within-bucket verify — no all-pairs join anywhere in the plan. Candidate
    pairs come only from colliding (table, bucket) cells (shuffle on short
    int keys); the exact cosine then runs on that candidate set. Recall is
    the multi-table LSH guarantee (4 tables × 8 planes here), verified
    against the brute-force baseline in tests/test_similarity.py.

    Buckets are deterministic (sha256-seeded hyperplanes, :func:`_hyperplanes`),
    so the result is reproducible and has an exact DuckDB oracle
    (plans/queries.py dedup_embedding_lsh_pairs)."""
    planes = _hyperplanes(n_tables, n_planes, dim)
    b = _with_buckets(df, id_col, vec_col, "id", "v", planes)
    x = b.select(F.col("id").alias("a"), "tbl", "bkt")
    y = b.select(F.col("id").alias("b"), "tbl", "bkt")
    cand = (
        x.join(y, ["tbl", "bkt"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    e = df.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
    ea = e.select(F.col("id").alias("a"), F.col("v").alias("va"))
    eb = e.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    scored = cand.join(ea, "a").join(eb, "b").withColumn("cos6", _cosine("va", "vb"))
    return (
        scored.where(F.col("cos6") >= threshold)
        .select("a", "b", F.round("cos6", 4).alias("cos_sim"))
    )


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH bucketing, exact rerank in
    buckets, best-of-n_tables union. The scale path: corpus shuffles once on
    (table, bucket); only colliding (query, doc) pairs are scored.
    """
    planes = _hyperplanes(n_tables, n_planes, dim)  # (T, P, D)
    q = _with_buckets(queries, id_col, vec_col, "query_id", "vq", planes)
    c = _with_buckets(corpus, id_col, vec_col, "neighbor_id", "vc", planes)

    cand = (
        q.join(c, ["tbl", "bkt"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "vq", "neighbor_id", "vc")
        .distinct()
    )
    scored = cand.withColumn("cos_sim", _cosine("vq", "vc"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rk").cast("long").alias("rk"))
    )


def _det_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n_lists: int,
    kmeans_iters: int,
) -> np.ndarray:
    """Deterministic unit-norm centroids from a bounded hash-selected sample
    (no RNG state): seeds = rows with the smallest sha256-derived hash64 of
    the id, then ``kmeans_iters`` Lloyd steps on the sample. The collect is
    bounded driver state (≤ max(20·n_lists, 256) rows) like ids.py's
    per-partition counts."""
    from german_newspaper_crawler_spark.functions.hashing import hash64

    sample_n = max(20 * n_lists, 256)
    sample = (
        corpus.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
        .withColumn("__h", hash64(F.col("id").cast("string")))
        .orderBy("__h", "id")
        .limit(sample_n)
        .collect()
    )
    X = np.asarray([r["v"] for r in sample], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    cents = Xn[:n_lists].copy()
    for _ in range(kmeans_iters):
        sims = Xn @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(n_lists):
            members = Xn[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents  # (n_lists, dim), unit norm


def _centroid_sims(vecs: pd.Series, centroids: np.ndarray) -> np.ndarray:
    """(len(vecs), n_centroids) cosine sims of each vector to each unit-norm
    centroid, ROUNDED to 6dp — the cross-engine rule: with the rounding,
    nearest-cell and probe order (ties to the lowest cell) are reproducible
    by the DuckDB oracles, which recompute them relationally."""
    if not len(vecs):  # empty Arrow batch → np.asarray([]) is 1-D
        return np.zeros((0, len(centroids)))
    m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
    m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    return np.round(m @ centroids.T, 6)


def _cell_of(centroids: np.ndarray):
    """Pandas UDF: vector → index of its nearest centroid (cosine, rounded
    as :func:`_centroid_sims`; argmax ties go to the lowest cell)."""
    from pyspark.sql.types import IntegerType

    @F.pandas_udf(IntegerType())
    def cell_of(vecs: pd.Series) -> pd.Series:
        cells = _centroid_sims(vecs, centroids).argmax(axis=1)
        return pd.Series(cells.astype("int32"))

    return cell_of


def semdedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 8,
    threshold: float = 0.95,
    kmeans_iters: int = 0,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup via
    k-means clustering + within-cluster pairwise cosine — removes documents
    whose EMBEDDING is near-identical to another document's even when the
    text differs (paraphrases, templated rewrites), the gap exact/MinHash
    dedup can't see. No reference analog (nearest behavior: the pHash
    near-dup suppression, web_requests.py:182-193, for images).

    Keeper rule: within a cluster, a row is dropped iff some LOWER-id row
    of the same cluster has cos6 >= threshold (deterministic min-id keeper,
    the repo's dedup convention; the paper keeps a centroid-far random
    representative). Cosines round to 6dp before the compare so the DuckDB
    oracle reproduces the decision bit-for-bit.

    Scale shape: one gemm pandas-UDF pass for cell assignment
    (corpus-linear), ONE shuffle on cell, then per-cell blocked m×m gemm in
    applyInPandas — never an all-pairs join across cells. n_clusters scales
    with the corpus (the paper uses ~0.1% of N) so cells stay ~10^3-10^4
    rows; the block loop caps the in-worker matrix at 1024×m.

    Returns one row per input: (id, cell, is_kept).
    """
    from pyspark.sql.types import (
        BooleanType, IntegerType, StructField, StructType,
    )

    centroids = _det_centroids(corpus, id_col, vec_col, n_clusters, kmeans_iters)
    assigned = corpus.select(
        F.col(id_col), _as_double(vec_col).alias("__v")
    ).withColumn("cell", _cell_of(centroids)(F.col("__v")))

    id_field = assigned.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType, id_field.nullable),
            StructField("cell", IntegerType(), False),
            StructField("is_kept", BooleanType(), False),
        ]
    )

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        V = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
        )[order]
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        m = len(ids)
        dup_sorted = np.zeros(m, dtype=bool)
        for lo in range(1, m, 1024):  # row 0 (smallest id) is always kept
            hi = min(lo + 1024, m)
            sims = np.round(V[lo:hi] @ V[:hi].T, 6)  # only cols with idx<hi
            # a row is a dup if ANY strictly-earlier (smaller-id) row in the
            # same cell reaches the threshold
            for r in range(hi - lo):
                dup_sorted[lo + r] = bool(
                    (sims[r, : lo + r] >= threshold).any()
                )
        is_kept = np.empty(m, dtype=bool)
        is_kept[order] = ~dup_sorted
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "cell": pdf["cell"].to_numpy(),
                "is_kept": is_kept,
            }
        )

    return assigned.groupBy("cell").applyInPandas(dedup_cell, out_schema)


def label_centroid_coherence(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Embedding-coherence outlier filter (the CLIP-score-style curation
    gate, cf. DataComp/LAION filtering; no reference analog): each vector
    is scored by cosine against the CENTROID of its label group, and rows
    whose rounded cosine falls below ``threshold`` are flagged as
    outliers — mislabeled / off-topic / noisy rows that would pollute a
    training mix.

    Scale shape: centroids via one partial-aggregatable
    ``groupBy(label, dim).avg`` over the posexploded vectors (shuffle keys
    ∝ labels × dims, independent of corpus size), folded back into one
    array per label (labels are few — the table BROADCASTs); the per-row
    cosine is then a single sequential zip_with fold per vector —
    corpus-linear, no pairwise anything. Centroid components round to 6dp
    BEFORE the cosine (cross-engine float-order guard), cosine rounds to
    6dp before the threshold (repo convention).

    Output: (id, label, cos_centroid, is_outlier).
    """
    e = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        _as_double(vec_col).alias("v"),
    )
    dims = e.select("label", F.posexplode("v").alias("d", "x"))
    cent = (
        dims.groupBy("label", "d")
        .agg(F.round(F.avg("x"), 6).alias("c"))
        .groupBy("label")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(d, c))), p -> p.c)"
            ).alias("cvec")
        )
    )
    # the cosine folds SEQUENTIALLY (aggregate over zip_with) — the same
    # IEEE operation order as DuckDB's list_dot_product, so the oracle
    # matches bit-for-bit, not just to rounding
    joined = e.join(F.broadcast(cent), "label")
    cos = _cosine("v", "cvec")
    return joined.select(
        F.col("id").alias(id_col),
        F.col("label").alias(label_col),
        cos.alias("cos_centroid"),
        (cos < threshold).alias("is_outlier"),
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 3,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the other classic ANN scale
    path next to LSH: partition the corpus into ``n_lists`` Voronoi cells
    around centroids, probe only the ``n_probe`` nearest cells per query,
    exact-rerank inside.

    Centroids come from a deterministic mini-kmeans on the driver over a
    hash-selected sample (no RNG state): seeds = rows with the smallest
    sha256(vec_id), then ``kmeans_iters`` Lloyd steps on the sample. The
    expensive parts — cell assignment of the corpus and per-cell scoring —
    are one numpy-matmul pandas UDF and one shuffle on (cell) each, so the
    plan is corpus-linear, never O(corpus × queries).
    """
    from pyspark.sql.types import ArrayType, IntegerType

    centroids = _det_centroids(corpus, id_col, vec_col, n_lists, kmeans_iters)

    # probe order: the same rounded sims as _cell_of, stable-sorted so ties
    # go to the lowest cell (the kmeans_iters=0 variant has an exact DuckDB
    # oracle — queries.py ann_ivf_topk recomputes the hash-sampled centroids
    # relationally)
    @F.pandas_udf(ArrayType(IntegerType()))
    def probe_cells(vecs: pd.Series) -> pd.Series:
        sims = _centroid_sims(vecs, centroids)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe].astype("int32")
        return pd.Series(list(order), dtype=object)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("vc")
    ).withColumn("cell", _cell_of(centroids)(F.col("vc")))
    q = (
        queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("vq"))
        .withColumn("cell", F.explode(probe_cells(F.col("vq"))))
    )
    scored = (
        q.join(c, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", _cosine("vq", "vc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rk").cast("long").alias("rk"))
    )
