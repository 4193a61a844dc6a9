"""Fixed schemas for every engine table.

The reference has exactly one record type (``ObjectModel``,
``lib/common/object_model.py:54-66``); here it becomes the ``ARTICLES``
StructType. The graft tables (frontier / seen / robots / metrics / images)
come from BASELINE.json ``input_hint`` + FIXTURES.md.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# pos_taggs element: reference List[Tuple[int, token, lemma, tag, pos]]
# (lib/common/object_model.py:65, normalization at :122-187)
POS_TAG = StructType(
    [
        StructField("tid", IntegerType()),
        StructField("token", StringType()),
        StructField("lemma", StringType()),
        StructField("tag", StringType()),
        StructField("pos", StringType()),
    ]
)

# Article/extraction output table — reference ObjectModel schema
# (lib/common/object_model.py:54-66; README.md:203-219).
ARTICLES = StructType(
    [
        StructField("_id", LongType()),
        StructField("url", StringType()),
        StructField("titel", StringType()),
        StructField("teaser", StringType()),
        StructField("autor", StringType()),
        StructField("category", StringType()),
        StructField("published_date", TimestampType()),
        StructField("parsed_date", TimestampType()),
        # raw page html, zlib-compressed at the extract boundary (logical
        # html = utf-8 decompress; at 100 TB the raw-html column must never
        # stream uncompressed through shuffle/Arrow/storage)
        StructField("html_gz", BinaryType()),
        StructField("text", StringType()),
        StructField("ai_keywords", ArrayType(StringType())),
        StructField("pos_taggs", ArrayType(POS_TAG)),
        StructField("content_hash", StringType()),
        StructField("domain", StringType()),  # partition key (Mongo collection analog)
    ]
)

# Graft input table — authoritative shape from BASELINE.json input_hint.
IMAGES = StructType(
    [
        StructField("image_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("fmt", StringType()),
        StructField("caption", StringType()),
        StructField("phash", LongType()),
    ]
)

# Persistent priority-queue frontier (reference: ephemeral ordered List[str],
# lib/common/web_requests.py:116; ordering ladder lib/domain/taz.py:188-206).
# state: pending | fetched | failed
FRONTIER = StructType(
    [
        StructField("url", StringType(), False),
        StructField("host", StringType(), False),
        StructField("bucket", IntegerType(), False),
        StructField("priority", IntegerType(), False),
        StructField("seq", LongType(), False),
        StructField("kind", StringType(), False),  # listing | article | image
        StructField("state", StringType(), False),
        StructField("round", IntegerType(), False),
        StructField("domain", StringType()),
        StructField("base_url", StringType()),  # join base for relative hrefs
        StructField("anchor_text", StringType()),
        StructField("discovered_at", TimestampType()),
    ]
)

# URL-seen set (reference: Set[str] of sha256 hex hydrated from Mongo,
# lib/common/mongodb.py:47-80).
SEEN = StructType(
    [
        StructField("content_hash", StringType(), False),
        StructField("domain", StringType()),
        StructField("added_at", TimestampType()),
    ]
)

# Accepted-image pHash side table — graft G6-in-the-crawl: the narrow
# persistent set new image batches anti-join against (hamming <= t), the
# pHash analog of the `seen` URL-hash table. Kept separate from `images`
# so the per-round membership scan never touches the wide bytes column
# or the images table's snapshot metadata.
SEEN_PHASH = StructType(
    [
        StructField("phash", LongType(), False),
        StructField("added_at", TimestampType()),
    ]
)

# robots.txt cache — graft G2, no reference analog (reference fetches
# unconditionally, lib/common/web_requests.py:15-20).
ROBOTS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("robots_txt", StringType()),
        StructField("disallow_prefixes", ArrayType(StringType())),
        StructField("allow_prefixes", ArrayType(StringType())),
        StructField("crawl_delay_ms", IntegerType()),
        StructField("fetched_at", TimestampType()),
        # HTTP status of the robots.txt fetch; non-200 rows are allow-all and
        # expire on the short failure TTL (see operators/robots.py)
        StructField("status", IntegerType()),
    ]
)

# Per-partition lineage + metrics — graft G7 (reference logs counts only,
# lib/common/web_requests.py:117).
METRICS = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("round", IntegerType(), False),
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType()),
        StructField("host", StringType()),
        StructField("n_in", LongType()),
        StructField("n_out", LongType()),
        StructField("n_failed", LongType()),
        StructField("wall_ms", LongType()),
    ]
)
