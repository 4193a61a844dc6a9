"""Property-based tests (hypothesis) for the invariant-critical functions."""

from __future__ import annotations

import hashlib

from hypothesis import example, given, settings
from hypothesis import strategies as st

from german_newspaper_crawler_spark.functions.text import chunk_text_by_paragraphs
from german_newspaper_crawler_spark.functions.urls import _canonicalize_one
from german_newspaper_crawler_spark.operators.bloom import params_for


# padding drawn from str.isspace() characters that Spark's space-only trim
# keeps: the identity rule strips every one of them
_PAD = st.text(alphabet=" \n\t\xa0\u3000\x1c", max_size=3)
_PADDED = st.builds(lambda a, s, b: a + s + b, _PAD, st.text(max_size=12), _PAD)
_IDENTITY_ROW = st.tuples(
    st.one_of(
        st.none(),
        st.sampled_from(["http://x/a", "https://x/b", "ftp://x/c", "", "HTTP://x/d"]),
        _PADDED,
    ),
    st.one_of(st.none(), _PADDED),
    st.one_of(st.none(), _PADDED),
)


def _reference_identity(url, text, html):
    """The reference recipe (object_model.py:195-214, web_requests.py:156-175):
    sha256(url) for http(s) urls, else sha256 of the stripped text or html."""

    def sha(s):
        return hashlib.sha256(s.encode("utf-8")).hexdigest()

    is_http = url is not None and url.startswith(("http://", "https://"))
    url_hash = sha(url) if is_http else None
    data = (text or html or "").strip()
    text_hash = sha(data) if data else None
    return (url_hash if is_http else text_hash, url_hash, text_hash)


@given(st.lists(_IDENTITY_ROW, min_size=1, max_size=8))
@example([("ftp://x/a", "\nabc\t", None), ("ftp://x/b", "", "<html>x</html>\n")])
@settings(max_examples=25, deadline=None)
def test_identity_hashes_match_reference_recipe(spark, rows):
    """Both statements of the identity rule — the JVM columns of
    ``hashing.content_hash`` / ``url_hash`` / ``text_hash`` and the Python
    ``hashing.identity_hashes`` — give the reference recipe's digests, for
    values padded with whitespace beyond the space character."""
    from german_newspaper_crawler_spark.functions import hashing

    got = spark.createDataFrame(rows, "url string, text string, html string").select(
        hashing.content_hash("url", "text", "html"),
        hashing.url_hash("url"),
        hashing.text_hash("text", "html"),
    ).collect()
    for row, jvm in zip(rows, got):
        want = _reference_identity(*row)
        assert tuple(jvm) == want, row
        assert hashing.identity_hashes(*row) == want, row


@given(
    st.builds(
        lambda scheme, host, port, path, frag: f"{scheme}://{host}{port}/{path}#{frag}",
        st.sampled_from(["http", "HTTP", "https", "HtTpS"]),
        st.from_regex(r"[A-Za-z0-9.-]{1,20}", fullmatch=True),
        st.sampled_from(["", ":80", ":443", ":8080"]),
        st.from_regex(r"[A-Za-z0-9/_-]{0,30}", fullmatch=True),
        st.from_regex(r"[A-Za-z0-9]{0,10}", fullmatch=True),
    )
)
@settings(max_examples=300, deadline=None)
def test_canonicalize_idempotent(url):
    once = _canonicalize_one(url)
    if once is not None:
        assert _canonicalize_one(once) == once  # canonical form is a fixpoint
        assert "#" not in once  # fragment always stripped


@given(st.text(alphabet="ab \n", max_size=300), st.integers(min_value=3, max_value=40))
@settings(max_examples=300, deadline=None)
def test_chunk_packing_invariants(text, max_len):
    chunks = chunk_text_by_paragraphs(text, max_len)
    # every chunk within the cap (pos_tagging.py contract)
    assert all(len(c) <= max_len for c in chunks)
    # no content lost: non-whitespace characters preserved in order
    import re

    flat = re.sub(r"\s+", "", "".join(chunks))
    assert flat == re.sub(r"\s+", "", text)


@given(st.integers(min_value=1, max_value=10**10), st.floats(min_value=0.001, max_value=0.2))
@settings(max_examples=100, deadline=None)
def test_bloom_params_sane(n, fpr):
    m, k = params_for(n, fpr)
    assert m % 64 == 0 and m >= 64
    assert 1 <= k <= 16


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.text(alphabet=" aäbc\t\nwort", min_size=0, max_size=60), max_size=8
    ).map(lambda ps: "\n\n".join(ps)),
    st.integers(min_value=5, max_value=80),
)
def test_chunk_packing_matches_reference_exactly(text, max_len):
    """Property parity: chunk_text_by_paragraphs == the reference's own
    _chunk_text_by_paragraphs (pos_tagging.py:49-81) on arbitrary texts and
    limits — greedy packing, stripping, and over-long slicing byte-for-byte."""
    from tests.test_enrichment import _load_reference_pos_tagging

    ref = _load_reference_pos_tagging()
    assert chunk_text_by_paragraphs(text, max_len) == ref._chunk_text_by_paragraphs(
        text, max_len
    )


@given(
    st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=256),
    st.sampled_from(["ulaw", "alaw"]),
)
@settings(max_examples=300, deadline=None)
def test_g711_compand_properties(xs, law):
    """G.711 compress∘expand is a quantizer: error bounded by the top-
    segment step, expand∘compress∘expand is the identity on decode values
    (codewords are a fixpoint), and companding preserves sign."""
    import numpy as np

    from german_newspaper_crawler_spark.operators.multimodal import (
        _g711_expand, g711_compress,
    )

    x = np.array(xs, np.int16)
    cw = g711_compress(x, law)
    rt = _g711_expand(cw, law) * 32768.0
    clip = np.clip(x, -32635, 32635) if law == "ulaw" else x
    bound = 512 + 132 if law == "ulaw" else 1024 + 8
    assert np.max(np.abs(rt - clip)) <= bound
    # decode values are fixpoints of the codec
    assert np.array_equal(g711_compress(rt.astype(np.int16), law), cw)
    # sign preservation away from the origin (A-law is a mid-riser
    # quantizer with no zero level: linear 0 decodes to ±8, so inputs
    # inside the first step may land on either side)
    far = np.abs(clip) >= 16
    assert np.all(np.sign(rt[far]) == np.sign(clip[far]))
