"""URL absolutization + canonicalization.

The reference absolutizes hrefs with ``urljoin(base_url, href)``
(``lib/domain/taz.py:216``) and does nothing else. The graft extends this to
full canonicalization (lowercase scheme/host, strip fragment + tracking
params, drop default ports) — required for an exact URL-seen set at 10^10
frontier scale where the same page must never enter twice under two spellings.

Spark has no urljoin builtin, so this is a vectorized Arrow UDF: pandas
Series in/out, ``urllib.parse`` over the batch. Per north-rule there is no
row-at-a-time Python UDF — the per-element work happens inside one Arrow
batch in the Python worker, exactly like the reference's per-anchor loop but
batched and distributed.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_TRACKING_PARAMS = re.compile(
    r"^(utm_[a-z]+|fbclid|gclid|mc_cid|mc_eid|ref|cmp)$", re.IGNORECASE
)
_DEFAULT_PORTS = {"http": ":80", "https": ":443"}


def _canonicalize_one(url: str) -> str | None:
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    netloc = parts.netloc.lower()
    default = _DEFAULT_PORTS.get(scheme, "")
    if default and netloc.endswith(default):
        netloc = netloc[: -len(default)]
    path = parts.path or "/"
    if parts.query:
        kept = [
            kv
            for kv in parts.query.split("&")
            if kv and not _TRACKING_PARAMS.match(kv.split("=", 1)[0])
        ]
        query = "&".join(kept)
    else:
        query = ""
    # fragment always dropped
    return urlunsplit((scheme, netloc, path, query, ""))


def canonicalize_batch(urls: pd.Series) -> pd.Series:
    """Canonicalize a pandas batch of absolute URLs (None for non-http(s))."""
    return urls.map(lambda u: _canonicalize_one(u) if isinstance(u, str) else None)


def urljoin_batch(bases: pd.Series, hrefs: pd.Series) -> pd.Series:
    """Vectorized ``urljoin`` — reference ``taz.py:216`` semantics."""
    return pd.Series(
        [
            urljoin(b, h) if isinstance(b, str) and isinstance(h, str) else None
            for b, h in zip(bases, hrefs)
        ],
        index=bases.index,
        dtype=object,
    )


@F.pandas_udf(StringType())
def urljoin_udf(bases: pd.Series, hrefs: pd.Series) -> pd.Series:
    """Plain ``urljoin`` in one Arrow batch — no canonicalization, so the
    crawl's seen-set digests match the reference bit-for-bit (F5)."""
    return urljoin_batch(bases, hrefs)


@F.pandas_udf(StringType())
def absolutize_udf(bases: pd.Series, hrefs: pd.Series) -> pd.Series:
    """urljoin + canonicalize in one Arrow batch."""
    return canonicalize_batch(urljoin_batch(bases, hrefs))


@F.pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return canonicalize_batch(urls)


def host_of(url_col: Column | str) -> Column:
    """Extract the lowercase host — JVM-side, codegen-friendly.

    Used as the frontier partition key; must agree with the canonical form
    (``parse_url`` on an already-canonicalized URL does).
    """
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.lower(F.parse_url(c, F.lit("HOST")))


def href_valid(href_col: Column | str) -> Column:
    """Reference href validity filter (P1, ``taz.py:213-215``):
    drop empty / javascript: / mailto: / bare-# hrefs after strip."""
    c = F.trim(F.col(href_col) if isinstance(href_col, str) else href_col)
    return (
        c.isNotNull()
        & (c != "")
        & (c != "#")
        & ~c.startswith("javascript:")
        & ~c.startswith("mailto:")
    )


# Binary-content url filter (P2, reference pos_tagging.py:16-17): these
# extensions are skipped by the POS tagger; for the image graft they are the
# *input* of the image-extraction path.
BINARY_EXT_RE = r"\.(pdf|jpe?g|png|gif|mp4|zip|gz)$"


def is_binary_url(url_col: Column | str) -> Column:
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.lower(c).rlike(BINARY_EXT_RE)
