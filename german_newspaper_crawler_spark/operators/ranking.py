"""Lexical relevance ranking — Okapi BM25 (Robertson & Walker 1994; the
Lucene-default scoring function) and per-document TF-IDF keyword
extraction (Sparck Jones 1972; the sklearn smooth-idf variant).

No reference analog (nearest: the anchor-text selection gates,
taz.py:217-241) — this is the retrieval primitive a training-data pipeline
uses for targeted corpus selection (e.g. DoReMi-style domain weighting or
quality-by-query mining at 10^10 documents): score every document against
a small query-term set and keep the top slice.

Scale shape — pure DataFrame algebra, no UDF:

* tokenize + explode only terms IN the query set (the filter lands before
  the explode's shuffle: per-(doc, term) counts over |Q| terms, not the
  whole vocabulary),
* document frequency per term = one partial-aggregatable groupBy over the
  (doc, term) pairs (≤ |Q| groups),
* N and avgdl are a 1-row aggregate broadcast to the scoring join (the
  whitelisted scalar-denominator pattern),
* per-doc score = sum of per-term weights — the final groupBy shuffles on
  doc id (uniform), state ∝ matched docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, bm25[6dp], n_matched) for every document matching ≥ 1 query
    term. IDF is the Lucene variant ``ln(1 + (N - df + 0.5)/(df + 0.5))``
    (never negative); tf saturates via ``k1`` and normalizes by document
    length against the corpus average via ``b``. All counts (tf, df, N,
    dl) are exact integers; the float expression is identical on the
    DuckDB oracle side and rounds 6dp (repo convention)."""
    if not query_terms:
        raise ValueError("bm25_scores requires a non-empty query_terms list")
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # empty/blank docs are excluded like the oracle's length(TRIM(x)) >= 1 —
    # a size(tk) >= 1 check would be always-true (split of "" yields [""],
    # silently counting empty docs into n_docs/avgdl; ADVICE-r5)
    docs = (
        df.where(F.length(F.trim(F.col(text_col))) >= 1)
        .select(F.col(id_col).alias("id"), toks.alias("tk"))
    )
    lens = docs.select("id", F.size("tk").cast("long").alias("dl"))
    scalars = lens.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        docs.select("id", F.explode("tk").alias("term"))
        .where(F.col("term").isin(list(query_terms)))
        .groupBy("id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    w = idf * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    # per-doc sum as a SEQUENTIAL fold in term order (array_sort →
    # aggregate), not F.sum: float addition is order-sensitive and the
    # partial-agg order is partitioning-dependent — the fold pins the IEEE
    # order both engines replay (the label_centroid_coherence precedent)
    fold = F.expr(
        "aggregate(transform(array_sort(collect_list(struct(term, __w))),"
        " x -> x.__w), cast(0 as double), (a, x) -> a + x)"
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, "id")
        .crossJoin(F.broadcast(scalars))
        .withColumn("__w", w)
        .groupBy("id")
        .agg(
            F.round(fold, 6).alias("bm25"),
            F.count("*").cast("long").alias("n_matched"),
        )
        .select(F.col("id").alias(id_col), "bm25", "n_matched")
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_df: int = 1,
) -> DataFrame:
    """(id, term, tfidf[6dp], rk) — the top-``k`` TF-IDF keywords of every
    document (smooth sklearn-style weighting ``(1 + ln(tf)) * (ln((N+1) /
    (df+1)) + 1)``), the per-document keyword-extraction primitive a
    curation pipeline uses for topic tagging / domain mixing diagnostics.

    Scale shape — unlike :func:`bm25_scores` this explodes the WHOLE
    vocabulary (shuffle ∝ total tokens, the unavoidable cost of corpus-wide
    df), but every aggregate is partial (map-side combine): tf groups on
    (doc, term), df groups on term, N is the 1-row broadcast scalar. The
    final top-k is a window ``row_number`` partitioned by doc id — uniform
    key, state ∝ per-doc vocabulary, never a global sort.

    Cross-engine float determinism: tf/df/N stay exact integers until one
    product of two logs (identical IEEE expression in the DuckDB oracle),
    rounded to 6dp BEFORE ranking so the window order (tfidf DESC, term
    ASC) is total and engine-exact.

    ``min_df`` drops corpus-hapax terms (df < min_df) before ranking — at
    10^10 docs the df join's term-key skew lives in stopwords (high df,
    harmless for the join since df is a 1-row-per-term aggregate), while
    the hapax tail dominates cardinality; min_df prunes it early.

    The (doc, term, tf) frame is materialized with an eager
    ``localCheckpoint``: both the df branch and the scoring join read it,
    and Catalyst prunes their columns differently so the exchange is NOT
    reused — unmaterialized, the tokenize+explode shuffle runs twice. So
    tf is evaluated once, eagerly, when the result is built, and Spark's
    ContextCleaner frees the checkpoint's blocks once no plan references
    them."""
    if k < 1:
        raise ValueError("tfidf_top_terms requires k >= 1")
    from pyspark.sql import Window

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # oracle-matching empty-doc exclusion (see bm25_scores; ADVICE-r5)
    docs = (
        df.where(F.length(F.trim(F.col(text_col))) >= 1)
        .select(F.col(id_col).alias("id"), toks.alias("tk"))
    )
    scalars = docs.agg(F.count("*").cast("long").alias("n_docs"))
    tf = (
        docs.select("id", F.explode("tk").alias("term"))
        .where(F.length("term") >= 1)
        .groupBy("id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
        .localCheckpoint()
    )
    dfreq = (
        tf.groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
        .where(F.col("df") >= int(min_df))
    )
    tfidf = F.round(
        (F.lit(1.0) + F.log(F.col("tf")))
        * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
        6,
    )
    win = Window.partitionBy("id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(scalars))
        .withColumn("tfidf", tfidf)
        .withColumn("rk", F.row_number().over(win).cast("long"))
        .where(F.col("rk") <= int(k))
        .select(F.col("id").alias(id_col), "term", "tfidf", "rk")
    )
