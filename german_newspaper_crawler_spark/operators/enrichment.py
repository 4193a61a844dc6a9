"""X4 — the spaCy-shaped POS-tagging enrichment stage.

Reference semantics: ``lib/common/pos_tagging.py`` — ``pos_tag_object``
gates (:169-227), chunked ``pos_tag_text`` (:97-166) with
``_chunk_text_by_paragraphs`` packing (:49-81), per-process model cache
(:28-46), and the post-tag content-hash re-check the caller performs
(``web_requests.py:205-211``).

Spark formulation: ONE ``mapInPandas`` stage —

* the tagger's model loads once per Python worker via a module-level cache
  (``_MODEL_CACHE``), the Arrow-batch analog of the reference's
  ``_NLP_CACHE``; never per batch, never per row;
* text is packed into bounded chunks with
  :func:`functions.text.chunk_text_by_paragraphs` (O3) before tagging, the
  running ``tid`` spans chunks, and output is truncated at ``cap``
  (O2, MAX_POS_TAG_ENTRIES);
* skip gates mirrored from ``pos_tag_object``: binary-extension URL, PDF
  magic, empty text, token estimate over ``skip_tokens``
  (MAX_POS_TAG_TOKENS) → empty ``pos_taggs``;
* taggers may implement ``normalize(text) -> text`` (content-mutating
  enrichment); the stage then rewrites ``text`` and recomputes
  ``text_content_hash`` / non-http ``content_hash`` with
  :func:`functions.hashing.identity_hashes` (the identity rule,
  ``web_requests.py:159-175``), which is what makes the caller's post-tag
  hash re-check (:205-211) able to fire.

The production in-container tagger is :class:`WhitespaceTagger` (the
reference's spaCy-less fallback, pos_tagging.py:108-116); the pure-SQL
``plans.crawl.enrich_pos_tags`` computes the identical result JVM-side, takes
the same ``cap`` / ``skip_tokens`` arguments with the same defaults
(``MAX_POS_TAG_ENTRIES`` / ``MAX_POS_TAG_TOKENS`` below), and remains the
default crawl path. :class:`SpacyTagger` is the deployment slot:
this container has no spaCy, so it raises ImportError at load — the stage
shape (cache, chunking, caps, re-check) is what's tested here.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, StructField, StructType

from german_newspaper_crawler_spark import schemas
from german_newspaper_crawler_spark.functions.hashing import identity_hashes
from german_newspaper_crawler_spark.functions.text import chunk_text_by_paragraphs

# pos_tagging.py:12-16
MAX_POS_TAG_ENTRIES = 50_000
MAX_POS_TAG_TOKENS = 200_000
CHUNK_DEFAULT = 200_000
SKIP_EXTENSIONS = (".pdf", ".jpg", ".jpeg", ".png", ".gif", ".mp4", ".zip", ".gz")
PDF_MAGIC = "%PDF"

# per-Python-worker model cache (pos_tagging.py:20 _NLP_CACHE analog) —
# module-level so it survives across Arrow batches and tasks in one worker
_MODEL_CACHE: dict[str, object] = {}


class WhitespaceTagger:
    """The reference's spaCy-less fallback (pos_tagging.py:108-116):
    whitespace tokens with empty lemma/tag/pos."""

    name = "whitespace"

    def load(self):
        return None  # stateless; cache still exercises the load-once path

    def tag(self, model, chunks: list[str]) -> Iterator[list[tuple]]:
        for ch in chunks:
            yield [(w, "", "", "") for w in ch.split()]


class SpacyTagger:
    """Deployment slot for the reference's primary path (pos_tagging.py:
    119-166): spaCy model with parser/ner disabled, chunked ``nlp.pipe``
    (batch_size=8, n_process=1). Requires spacy + the model in the image —
    absent in this container, so ``load`` raises ImportError and tests pin
    the stage shape with :class:`WhitespaceTagger` instead."""

    def __init__(self, model_name: str = "de_core_news_sm"):
        self.model_name = model_name
        self.name = f"spacy:{model_name}"

    def load(self):
        import spacy  # raises ImportError in this container

        return spacy.load(self.model_name, disable=["parser", "ner"])

    def tag(self, model, chunks: list[str]) -> Iterator[list[tuple]]:
        disable = [n for n in ("parser", "ner") if n in model.pipe_names]
        for doc in model.pipe(chunks, batch_size=8, n_process=1, disable=disable):
            yield [
                (t.text, t.lemma_ or "", t.tag_ or "", t.pos_ or "") for t in doc
            ]


def _load_cached(tagger):
    if tagger.name not in _MODEL_CACHE:
        _MODEL_CACHE[tagger.name] = tagger.load()
    return _MODEL_CACHE[tagger.name]


def tag_text(
    tagger, model, text: str, cap: int = MAX_POS_TAG_ENTRIES,
    chunk_chars: int = CHUNK_DEFAULT,
) -> list[tuple]:
    """pos_tag_text (pos_tagging.py:97-166): paragraph-packed chunks →
    tagger → (tid, token, lemma, tag, pos) with running tid and hard cap."""
    if not text:
        return []
    model_max = getattr(model, "max_length", None) or 1_000_000
    chunk_size = min(chunk_chars, max(10_000, int(model_max * 0.8)))
    entries: list[tuple] = []
    tid = 0
    for toks in tagger.tag(model, chunk_text_by_paragraphs(text, chunk_size)):
        for w, lemma, tag, pos in toks:
            if len(entries) >= cap:
                return entries
            entries.append((tid, w, lemma, tag, pos))
            tid += 1
    return entries


def _should_skip(url: str, pdf_like: bool, text: str, skip_tokens: int) -> bool:
    """pos_tag_object gates (pos_tagging.py:186-203)."""
    u = (url or "").lower()
    if any(u.endswith(ext) for ext in SKIP_EXTENSIONS) or pdf_like:
        return True
    if not text:
        return True
    return len(text.split()) > skip_tokens


def enrich_stage(
    df: DataFrame,
    tagger,
    cap: int = MAX_POS_TAG_ENTRIES,
    skip_tokens: int = MAX_POS_TAG_TOKENS,
    chunk_chars: int = CHUNK_DEFAULT,
) -> DataFrame:
    """Run the enrichment over article rows: input columns pass through,
    ``pos_taggs`` is added; a normalizing tagger also rewrites ``text`` and
    recomputes ``text_content_hash`` / non-http ``content_hash``.

    Expects at least (url, text); uses ``is_pdf_like`` when present (the
    fused article stage emits it — raw html stays compressed)."""
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("pos_taggs", ArrayType(schemas.POS_TAG))]
    )
    cols = df.columns
    normalize = getattr(tagger, "normalize", None)
    has_pdf_flag = "is_pdf_like" in cols

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _load_cached(tagger)  # once per worker, cached across batches
        for pdf in batches:
            taggs, texts = [], []
            new_text_hash, new_content_hash = [], []
            for row in pdf.itertuples(index=False):
                url = getattr(row, "url", "") or ""
                text = getattr(row, "text", "") or ""
                pdf_like = bool(getattr(row, "is_pdf_like", False)) if has_pdf_flag \
                    else (getattr(row, "html", "") or "").lstrip().startswith(PDF_MAGIC)
                if _should_skip(url, pdf_like, text, skip_tokens):
                    taggs.append([])
                    texts.append(text)
                    new_text_hash.append(None)
                    new_content_hash.append(None)
                    continue
                if normalize is not None:
                    text = normalize(text)
                    # identity rule web_requests.py:159-175: content_hash is
                    # the url-hash for http rows (unchanged by mutation) and
                    # the text-hash otherwise — the case the post-tag
                    # re-check exists for
                    ch, _, th = identity_hashes(url, text, None)
                    new_text_hash.append(th)
                    new_content_hash.append(ch)
                else:
                    new_text_hash.append(None)
                    new_content_hash.append(None)
                texts.append(text)
                entries = tag_text(tagger, model, text, cap, chunk_chars)
                taggs.append([
                    {"tid": t, "token": w, "lemma": le, "tag": tg, "pos": po}
                    for t, w, le, tg, po in entries
                ])
            out = pdf.copy()
            if normalize is not None:
                out["text"] = texts
                for col, vals in (
                    ("text_content_hash", new_text_hash),
                    ("content_hash", new_content_hash),
                ):
                    if col in out.columns:
                        out[col] = [
                            v if v is not None else old
                            for v, old in zip(vals, out[col])
                        ]
            out["pos_taggs"] = taggs
            yield out

    return df.mapInPandas(run, schema=out_schema)


def hashed_linear_classifier(
    df,
    id_col: str,
    text_col: str,
    weights,
    n_buckets: int = 1024,
    bias: float = 0.1,
):
    """fastText-style linear quality classifier INFERENCE (Joulin et al.
    2016, arXiv:1607.01759; the CCNet/DCLM quality-filter shape): bag of
    word uni+bigrams → feature hashing into ``n_buckets`` → mean bucket
    weight + bias → sigmoid. No reference analog (nearest: the token-count
    threshold gate A6).

    ``weights`` is a DataFrame (bucket int, weight_milli bigint) — in
    deployment the trained model's quantized weight table; it is tiny and
    BROADCASTs to the feature join. Weights are INTEGER millis so the
    per-doc sum is exact (bigint) and the score is a pure function of the
    bag — bit-identical across engines and partitionings; the sigmoid is
    applied to sum/(1000*count)+bias and rounded 6dp, the keep flag reads
    the ROUNDED score (repo convention).

    Scale shape: one explode (∝ corpus tokens) → broadcast join on bucket →
    partial-aggregatable per-doc sum/count. Output: (id, score, keep) —
    one row per input doc: docs whose bag matches NO weight bucket
    (empty/whitespace-only text, or a sparse deployment table missing
    their buckets) get the bias-only sigmoid, exactly what a fastText
    model emits for an empty feature vector, instead of being silently
    dropped (ADVICE-r4).
    """
    from pyspark.sql import functions as F

    from german_newspaper_crawler_spark.functions.hashing import hash64

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col).alias("id"), toks.alias("tk"))
    grams = base.select(
        "id",
        F.explode(
            F.concat(
                F.col("tk"),
                # slice(tk, 1, 0) = typed-empty array<string> for 1-token
                # docs (bare array() would type as array<void>)
                F.expr(
                    "case when size(tk) >= 2 then"
                    " transform(sequence(1, size(tk) - 1),"
                    " i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"
                    " else slice(tk, 1, 0) end"
                ),
            )
        ).alias("gram"),
    ).where(F.col("gram") != "")
    feats = grams.select("id", F.pmod(hash64("gram"), F.lit(n_buckets)).alias("bucket"))
    scored = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy("id")
        .agg(
            F.sum("weight_milli").cast("long").alias("s"),
            F.count("*").cast("long").alias("n"),
        )
    )
    # left-join every doc back in: unmatched docs score sigmoid(bias).
    # coalesce leaves the matched branch's float ops untouched (the inner
    # division is never null when s/n are present), so matched scores are
    # bit-identical to the inner-join form.
    everyone = base.select("id").join(scored, "id", "left")
    score = F.round(
        F.expr(f"1d / (1d + exp(-(coalesce(s / (1000d * n), 0d) + {bias}d)))"), 6
    )
    return everyone.select(
        F.col("id").alias(id_col),
        score.alias("score"),
        (score >= F.lit(0.5)).alias("keep"),
    )


def synthetic_weight_table(spark, n_buckets: int = 1024):
    """Deterministic stand-in for a trained weight table: weight_milli =
    hash64('w#'||bucket) % 2001 - 1000 ∈ [-1000, 1000] — reproducible in
    DuckDB through the shared hash64, so classifier inference has an exact
    oracle."""
    from pyspark.sql import functions as F

    from german_newspaper_crawler_spark.functions.hashing import hash64

    return spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket"),
        (
            F.pmod(hash64(F.concat(F.lit("w#"), F.col("id").cast("string"))), F.lit(2001))
            - 1000
        ).cast("long").alias("weight_milli"),
    )
