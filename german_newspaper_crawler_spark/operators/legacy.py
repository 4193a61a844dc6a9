"""Legacy-record ingest normalization — the dirty-data gauntlet anyone
loading reference-era MongoDB exports hits immediately.

Reference semantics reproduced:

* ``ObjectModel._normalize_pos_taggs`` (``lib/common/object_model.py:122-187``):
  pos_taggs arrive as a {token: pos} dict, a list of dicts (id/tid + wort/
  text/token + lemma + tags/tag + pos), 5-tuples, 4-tuples, odd-length
  sequences (flatten + pad), or bare strings — all coerced to the sorted
  5-struct (tid, token, lemma, tag, pos) with a running next_id.
* ``ObjectModel.from_dict`` (``object_model.py:290-356``): lenient ISO date
  parse (→ NULL on failure), legacy scalar ``ai_summary`` → ``ai_keywords``
  list, scalar ai_keywords → singleton list, url recovered from an
  http(s)-shaped legacy ``id`` field when missing.
* id high-water (``object_model.py:310-317`` + ``:23-27``): the max over
  BOTH the internal ``_id`` and the numeric legacy ``id`` bumps the counter;
  rows without ``_id`` get fresh ids ABOVE that high-water
  (``__post_init__``, :190-193) — here via the two-phase
  :func:`operators.ids.assign_ids` (never a global row_number).
* content_hash fallback (``object_model.py:195-214``): sha256(url) for
  http(s) rows, else sha256((text or html).strip()) when non-empty.

Spark shape: records arrive as one JSON-string column (the honest wire
format of a Mongo export — heterogeneous pos_taggs cannot be a typed Spark
column); ONE ``mapInPandas`` parses + normalizes (Arrow-batched, no per-row
Python UDF), then the id backfill runs as plain DataFrame ops. Idempotent:
normalize(normalize(x)) == normalize(x) (property-tested).
"""

from __future__ import annotations

import json
from datetime import datetime
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, LongType, StringType, StructField, StructType, TimestampType,
)

from german_newspaper_crawler_spark import schemas
from german_newspaper_crawler_spark.functions.hashing import identity_hashes

LEGACY_NORMALIZED = StructType(
    [
        StructField("_id", LongType()),  # NULL until backfill
        StructField("legacy_id", LongType()),  # numeric legacy 'id', lineage
        StructField("url", StringType()),
        StructField("titel", StringType()),
        StructField("teaser", StringType()),
        StructField("autor", StringType()),
        StructField("category", StringType()),
        StructField("published_date", TimestampType()),
        StructField("parsed_date", TimestampType()),
        StructField("html", StringType()),
        StructField("text", StringType()),
        StructField("ai_keywords", ArrayType(StringType())),
        StructField("pos_taggs", ArrayType(schemas.POS_TAG)),
        StructField("content_hash", StringType()),
    ]
)


def normalize_pos_taggs(val) -> list[tuple]:
    """object_model.py:122-187 branch-for-branch."""
    if val is None:
        return []
    if isinstance(val, dict):
        return [(i, tok or "", "", "", pos or "") for i, (tok, pos) in enumerate(val.items())]
    if not isinstance(val, list):
        return []
    entries: list[tuple] = []
    next_id = 0
    for item in val:
        if isinstance(item, dict):
            tid = item.get("id", item.get("tid"))
            tid = tid if isinstance(tid, int) else next_id
            token = item.get("wort") or item.get("text") or item.get("token") or ""
            lemma = item.get("lemma") or ""
            pos = item.get("pos") or ""
            tags = item.get("tags") or item.get("tag") or ""
            entries.append((int(tid), token, lemma, tags, pos))
            next_id = int(tid) + 1
            continue
        if isinstance(item, (list, tuple)):
            if len(item) == 5:
                try:
                    tid = int(item[0])
                except (TypeError, ValueError):
                    tid = next_id
                entries.append(tuple([tid] + [
                    str(x) if x is not None else "" for x in item[1:]
                ]))
                next_id = tid + 1
                continue
            if len(item) == 4:
                entries.append(tuple([next_id] + [
                    str(x) if x is not None else "" for x in item
                ]))
                next_id += 1
                continue
            flattened = [str(x) if x is not None else "" for x in item]
            while len(flattened) < 4:
                flattened.append("")
            entries.append((next_id, *flattened[:4]))
            next_id += 1
            continue
        entries.append((next_id, str(item), "", "", ""))
        next_id += 1
    try:
        entries.sort(key=lambda x: int(x[0]))
    except (TypeError, ValueError):
        pass
    return entries


def _parse_iso(value) -> datetime | None:
    """Lenient ISO parse (object_model.py:328-344 _parse_date)."""
    if isinstance(value, str):
        try:
            return datetime.fromisoformat(value)
        except ValueError:
            return None
    if isinstance(value, datetime):
        return value
    return None


def _maybe_int(v):
    try:
        return int(v)
    except (TypeError, ValueError):
        return None


def normalize_record(data: dict) -> dict:
    """from_dict + __post_init__ gauntlet for one record → flat dict matching
    LEGACY_NORMALIZED (without id backfill)."""
    existing_internal = _maybe_int(data.get("_id"))
    id_field = data.get("id")
    legacy_id = _maybe_int(id_field)

    ak = data.get("ai_keywords")
    if ak is None:
        legacy_summary = data.get("ai_summary")
        ai_keywords = [legacy_summary] if isinstance(legacy_summary, str) and legacy_summary else []
    elif isinstance(ak, list):
        ai_keywords = [str(x) for x in ak]
    else:
        ai_keywords = [str(ak)]

    url = data.get("url")
    if not url and isinstance(id_field, str) and id_field.startswith(("http://", "https://")):
        url = id_field

    text, html = data.get("text"), data.get("html")
    content_hash = data.get("content_hash")
    if content_hash is None:
        content_hash = identity_hashes(url, text, html)[0]

    return {
        "_id": existing_internal,
        "legacy_id": legacy_id,
        "url": url,
        "titel": data.get("titel"),
        "teaser": data.get("teaser"),
        "autor": data.get("autor"),
        "category": data.get("category"),
        "published_date": _parse_iso(data.get("published_date")),
        "parsed_date": _parse_iso(data.get("parsed_date")),
        "html": html,
        "text": text,
        "ai_keywords": ai_keywords,
        "pos_taggs": [
            {"tid": t, "token": w, "lemma": le, "tag": tg, "pos": po}
            for t, w, le, tg, po in normalize_pos_taggs(data.get("pos_taggs"))
        ],
        "content_hash": content_hash,
    }


def normalize_legacy_records(
    df: DataFrame, json_col: str = "record", order_cols: list[str] | None = None
) -> DataFrame:
    """Normalize a table of legacy JSON records → LEGACY_NORMALIZED rows with
    the id high-water honored: rows carrying ``_id`` keep it; rows without
    get dense fresh ids above max(all _id, all numeric legacy id) in
    ``order_cols`` order (default: url) — the distributed analog of the
    reference's counter bump + assignment (object_model.py:23-27,190-193,
    310-317)."""
    order_cols = order_cols or ["url"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in LEGACY_NORMALIZED.fields]
        for pdf in batches:
            rows = [normalize_record(json.loads(r)) for r in pdf[json_col]]
            out = pd.DataFrame(rows, columns=cols)
            yield out

    norm = df.mapInPandas(run, schema=LEGACY_NORMALIZED)

    high = norm.agg(
        F.greatest(
            F.coalesce(F.max("_id"), F.lit(0)),
            F.coalesce(F.max("legacy_id"), F.lit(0)),
        ).alias("h")
    ).first()["h"]

    keep = norm.where(F.col("_id").isNotNull())
    fresh = norm.where(F.col("_id").isNull()).drop("_id")
    if fresh.isEmpty():
        return keep
    from german_newspaper_crawler_spark.operators.ids import assign_ids

    assigned = assign_ids(fresh, order_cols=order_cols, offset=int(high))
    return keep.unionByName(assigned.select(*[f.name for f in LEGACY_NORMALIZED.fields]))
