"""Hash identity functions.

The reference's dedup identity is ``sha256(utf8(x)).hexdigest()``
(``lib/common/object_model.py:195-214``, ``lib/common/web_requests.py:159-175``).
Spark's ``sha2(col, 256)`` produces the identical lowercase hex digest —
bit-for-bit, verified by tests against ``hashlib``.

The identity rule (url digest for http(s) rows, else digest of the stripped
text or html) is stated twice, once per engine: :func:`content_hash` and its
parts for JVM columns, :func:`identity_hashes` for Python workers (the fused
article stage, the enrichment recompute, legacy normalization). A
cross-engine property test holds the two to the reference recipe.

``hash64`` is the engine's shared 60-bit integer hash (first 15 hex chars of
sha256 as a base-16 integer). It is deliberately definable in ANSI SQL so the
DuckDB oracle can reproduce it exactly:
    Spark : CAST(CONV(SUBSTRING(SHA2(x,256),1,15),16,10) AS BIGINT)
    DuckDB: CAST(CAST('0x'||SUBSTR(SHA256(x),1,15) AS UBIGINT) AS BIGINT)
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def sha256_hex(col: Column | str) -> Column:
    """Reference identity digest: lowercase sha256 hex of UTF-8 bytes.

    Matches ``hashlib.sha256(x.encode('utf-8')).hexdigest()`` exactly
    (reference ``object_model.py:197-199``).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c, 256)


def hash64(col: Column | str, seed: str | None = None) -> Column:
    """Deterministic 60-bit integer hash, identical across Spark and DuckDB.

    ``seed`` derives independent hash families for MinHash (h_i(x) =
    hash64(x, seed=str(i))).
    """
    c = F.col(col) if isinstance(col, str) else col
    if seed is not None:
        c = F.concat(c, F.lit("#"), F.lit(seed))
    return F.conv(F.substring(F.sha2(c, 256), 1, 15), 16, 10).cast("long")


def hash64_sql(expr: str, seed: str | None = None) -> str:
    """DuckDB-SQL rendering of :func:`hash64` for oracle queries."""
    if seed is not None:
        expr = f"concat({expr}, '#', '{seed}')"
    return f"CAST(CAST('0x' || SUBSTR(SHA256({expr}), 1, 15) AS UBIGINT) AS BIGINT)"


def url_hash(url_col: Column | str) -> Column:
    """URL-identity digest — the reference's *effective* dedup key.

    ``ObjectModel.__post_init__`` sets ``content_hash = sha256(url)`` for any
    http(s) URL (``object_model.py:195-203``), so fetched articles dedup on
    the URL digest; NULL for non-http(s) values (callers coalesce with the
    text-hash fallback, see :func:`content_hash`).
    """
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.when(
        c.startswith("http://") | c.startswith("https://"), F.sha2(c, 256)
    )


# the 29 characters ``str.strip()`` strips (every ``str.isspace()`` code
# point; the highest is U+3000); Spark's ``trim`` strips only the space
_PY_WHITESPACE = "".join(c for c in map(chr, range(0x3001)) if c.isspace())


def text_hash(text_col: Column | str, html_col: Column | str) -> Column:
    """Content-hash fallback: sha256 of ``(text or html).strip()`` with
    Python's whitespace set, NULL if empty.

    Reference: ``data = (text or html or '').strip()`` then sha256
    (``web_requests.py:156-175``, ``object_model.py:204-214``).
    """
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    h = F.col(html_col) if isinstance(html_col, str) else html_col
    data = F.btrim(
        F.coalesce(F.nullif(t, F.lit("")), h, F.lit("")), F.lit(_PY_WHITESPACE)
    )
    return F.when(data != "", F.sha2(data, 256))


def content_hash(url_col, text_col, html_col) -> Column:
    """Full reference identity: url-hash first, text/html-hash fallback.

    Precedence per ``object_model.py:195-214``: a valid http(s) URL always
    wins; only urlless records hash their stripped text/html.
    """
    return F.coalesce(url_hash(url_col), text_hash(text_col, html_col))


def identity_hashes(
    url: str | None, text: str | None, html: str | None
) -> tuple[str | None, str | None, str | None]:
    """``(content_hash, url_hash, text_hash)`` of one row, in Python: the
    same rule as :func:`content_hash`, :func:`url_hash` and :func:`text_hash`
    for code that runs inside a Python worker."""

    def sha(s: str) -> str:
        return hashlib.sha256(s.encode("utf-8")).hexdigest()

    is_http = isinstance(url, str) and url.startswith(("http://", "https://"))
    u = sha(url) if is_http else None
    data = (text or html or "").strip()
    t = sha(data) if data else None
    return (u if is_http else t), u, t
