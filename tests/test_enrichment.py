"""X4 enrichment stage: model cache, chunk packing, gates, mutation-aware
post-tag hash re-check — plus parity driving the reference's own
pos_tagging.py fallback path on identical inputs."""

from __future__ import annotations

import hashlib
import importlib.util
import logging
import sys
import types

import pytest

from german_newspaper_crawler_spark.operators.enrichment import (
    _MODEL_CACHE, SpacyTagger, WhitespaceTagger, _should_skip, enrich_stage,
    tag_text,
)


def _load_reference_pos_tagging():
    """Import /root/reference/lib/common/pos_tagging.py with its logging
    dependency stubbed (the reference logger configures rotating file
    handlers; we must not write outside the repo)."""
    stub = types.ModuleType("lib.common.logging")
    stub.get_logger = lambda name: logging.getLogger(f"refstub.{name}")
    pkg_lib = types.ModuleType("lib")
    pkg_common = types.ModuleType("lib.common")
    sys.modules.setdefault("lib", pkg_lib)
    sys.modules.setdefault("lib.common", pkg_common)
    sys.modules["lib.common.logging"] = stub
    spec = importlib.util.spec_from_file_location(
        "ref_pos_tagging", "/root/reference/lib/common/pos_tagging.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


SAMPLE_TEXTS = [
    "Der schnelle braune Fuchs springt über den faulen Hund.",
    "Erster Absatz mit einigen Wörtern.\n\nZweiter Absatz,  doppelte Leerzeichen.\n\n\n\nDritter.",
    "ein " * 30,
    "",
    "Wort",
]


def test_parity_with_reference_fallback_pos_tag_text():
    """tag_text(WhitespaceTagger) reproduces the reference's spaCy-less
    pos_tag_text (pos_tagging.py:108-116) token-for-token, id-for-id."""
    ref = _load_reference_pos_tagging()
    assert ref.spacy is None  # container really has no spaCy
    tagger = WhitespaceTagger()
    for text in SAMPLE_TEXTS:
        expected = ref.pos_tag_text(text)
        got = tag_text(tagger, tagger.load(), text)
        assert got == expected, text[:40]


def test_parity_with_reference_cap_truncation():
    """O2: both sides truncate at MAX_POS_TAG_ENTRIES with contiguous ids
    (reference caps via enumerate break, :111-113; stage via len(entries))."""
    ref = _load_reference_pos_tagging()
    text = "tok " * 100
    ref_mod_cap = ref.MAX_POS_TAG_ENTRIES
    try:
        ref.MAX_POS_TAG_ENTRIES = 7
        expected = ref.pos_tag_text(text)
    finally:
        ref.MAX_POS_TAG_ENTRIES = ref_mod_cap
    tagger = WhitespaceTagger()
    got = tag_text(tagger, None, text, cap=7)
    assert got == expected
    assert [e[0] for e in got] == list(range(7))


def test_parity_with_reference_skip_gates():
    """pos_tag_object gates (pos_tagging.py:186-203) mirrored by
    _should_skip: binary extension, PDF magic, empty text, token overflow."""
    ref = _load_reference_pos_tagging()

    class Obj:
        def __init__(self, url, html, text):
            self.url, self.html, self.text = url, html, text
            self.pos_taggs = None

    cases = [
        ("https://x.de/a.pdf", "", "hallo welt", True),
        ("https://x.de/a.jpg", "", "hallo welt", True),
        ("https://x.de/art", "  %PDF-1.4 ...", "hallo welt", True),
        ("https://x.de/art", "<p>x</p>", "", True),
        ("https://x.de/art", "<p>x</p>", "w " * 50, False),
    ]
    for url, html, text, want_skip in cases:
        o = Obj(url, html, text)
        ref.pos_tag_object(o)
        ref_skipped = o.pos_taggs is None
        got_skip = _should_skip(
            url, bool(html) and html.lstrip().startswith("%PDF"), text,
            ref.MAX_POS_TAG_TOKENS,
        )
        assert got_skip == ref_skipped == want_skip, (url, text[:20])
    # token-estimate overflow gate
    big = Obj("https://x.de/art", "", "w " * 10)
    ref_limit = ref.MAX_POS_TAG_TOKENS
    try:
        ref.MAX_POS_TAG_TOKENS = 5
        ref.pos_tag_object(big)
    finally:
        ref.MAX_POS_TAG_TOKENS = ref_limit
    assert big.pos_taggs is None
    assert _should_skip("https://x.de/art", False, "w " * 10, 5)


class _BoundedModel:
    max_length = 12_500  # forces chunk_size = 10_000 (pos_tagging.py:125-127)


class ChunkCountingTagger(WhitespaceTagger):
    """Whitespace tagger that records how many chunks it was fed."""

    name = "chunk-counting"

    def __init__(self):
        self.chunks_seen: list[int] = []

    def load(self):
        return _BoundedModel()

    def tag(self, model, chunks):
        self.chunks_seen.append(len(chunks))
        yield from super().tag(model, chunks)


def test_chunk_packing_wired_with_running_tid():
    """O3 in the stage: a model with small max_length forces multi-chunk
    processing; tids keep running across chunk boundaries and the token
    stream equals the unchunked split (no paragraph exceeds chunk size)."""
    paras = [f"absatz {i} " + ("wort " * 400).strip() for i in range(12)]
    text = "\n\n".join(paras)  # ~24k chars > 12.5k model max
    tagger = ChunkCountingTagger()
    got = tag_text(tagger, tagger.load(), text)
    assert tagger.chunks_seen == [3]  # 24k chars / 10k chunk → 3 chunks
    assert [e[0] for e in got] == list(range(len(text.split())))
    assert [e[1] for e in got] == text.split()


def test_model_loaded_once_per_worker_not_per_row(spark, tmp_path):
    # defined in-function so cloudpickle ships the class by value to workers
    class MarkerTagger(WhitespaceTagger):
        """Writes a marker file on every load() — counts model loads per
        worker process (the _NLP_CACHE analog, pos_tagging.py:28-46)."""

        def __init__(self, marker_dir):
            self.marker_dir = str(marker_dir)
            self.name = f"marker:{marker_dir}"

        def load(self):
            import os
            import uuid

            open(os.path.join(self.marker_dir, uuid.uuid4().hex), "w").close()
            return None

    mdir = tmp_path / "loads"
    mdir.mkdir()
    df = spark.createDataFrame(
        [(f"https://x.de/{i}", f"text nummer {i} mit worten") for i in range(200)],
        ["url", "text"],
    ).repartition(4)
    out = enrich_stage(df, MarkerTagger(mdir)).collect()
    assert len(out) == 200
    assert all(len(r["pos_taggs"]) == 5 for r in out)
    n_loads = len(list(mdir.glob("*")))
    # one load per python worker process at most — never per row/batch
    assert 1 <= n_loads <= 8, n_loads


def test_stage_matches_sql_fallback(spark):
    """enrich_stage(WhitespaceTagger) ≡ the JVM-side enrich_pos_tags SQL
    (the production default) on mixed gate-exercising rows."""
    from german_newspaper_crawler_spark.plans.crawl import enrich_pos_tags

    rows = [
        ("https://x.de/a", "kurzer deutscher text", False),
        ("https://x.de/b.pdf", "wird übersprungen", False),
        ("https://x.de/c", "", False),
        ("https://x.de/d", "pdf magie", True),
        ("https://x.de/e", "  mehrere   leerzeichen\tund\ttabs  ", False),
        ("https://x.de/f", "w " * 30, False),
    ]
    df = spark.createDataFrame(rows, ["url", "text", "is_pdf_like"])
    sql_out = {
        r["url"]: [t.asDict() for t in r["pos_taggs"]]
        for r in enrich_pos_tags(df, cap=10, skip_tokens=25).collect()
    }
    stage_out = {
        r["url"]: [t.asDict() for t in r["pos_taggs"]]
        for r in enrich_stage(
            df, WhitespaceTagger(), cap=10, skip_tokens=25
        ).collect()
    }
    assert stage_out == sql_out
    assert sql_out["https://x.de/b.pdf"] == []
    assert sql_out["https://x.de/d"] == []
    assert sql_out["https://x.de/f"] == []  # 30 tokens > skip 25
    assert len(sql_out["https://x.de/a"]) == 3


def _lowercase_tagger():
    class LowercaseTagger(WhitespaceTagger):
        """Content-MUTATING tagger: normalizes text to lowercase before
        tagging — the case the reference's post-tag hash re-check
        (web_requests.py:205-211) exists for. Defined dynamically so
        cloudpickle ships it by value to workers."""

        name = "lowercase"

        @staticmethod
        def normalize(text: str) -> str:
            return text.lower()

    return LowercaseTagger()


def test_mutating_tagger_recomputes_hash_and_postcheck_drops(spark):
    """A normalizing tagger rewrites text; for non-http rows content_hash
    follows the text (identity rule web_requests.py:159-175), so the crawl
    loop's post-tag anti-join can now drop rows whose NORMALIZED hash is
    already known — exactly web_requests.py:205-211."""
    sha = lambda s: hashlib.sha256(s.encode()).hexdigest()  # noqa: E731
    rows = [
        ("file:///archiv/a1", "Der Gleiche TEXT", sha("Der Gleiche TEXT")),
        ("file:///archiv/a2", "ganz anderer text", sha("ganz anderer text")),
    ]
    df = spark.createDataFrame(rows, ["url", "text", "content_hash"])
    out = enrich_stage(df, _lowercase_tagger()).collect()
    by_url = {r["url"]: r for r in out}
    assert by_url["file:///archiv/a1"]["text"] == "der gleiche text"
    assert by_url["file:///archiv/a1"]["content_hash"] == sha("der gleiche text")
    assert [t["token"] for t in by_url["file:///archiv/a1"]["pos_taggs"]] == [
        "der", "gleiche", "text"
    ]

    # post-tag re-check through the crawl's seen probe: the normalized
    # hash is already in seen → dropped
    from german_newspaper_crawler_spark.plans.crawl import _seen_join

    seen = spark.createDataFrame([(sha("der gleiche text"),)], ["content_hash"])
    enriched = enrich_stage(df, _lowercase_tagger())
    survived = _seen_join(enriched, "content_hash", seen, "left_anti").collect()
    assert {r["url"] for r in survived} == {"file:///archiv/a2"}


def test_spacy_slot_raises_cleanly():
    """The deployment slot is real code gated on the library, not a stub of
    the stage: load() raises ImportError here because the container has no
    spaCy."""
    tagger = SpacyTagger()
    _MODEL_CACHE.pop(tagger.name, None)
    with pytest.raises(ImportError):
        tagger.load()


def test_crawl_loop_runs_enrich_stage_tagger(spark, tmp_path):
    """cfg.tagger routes the crawl through the mapInPandas stage; result set
    identical to the SQL path on the fixture crawl."""
    from datetime import datetime

    from german_newspaper_crawler_spark.fixtures import make_fixtures
    from german_newspaper_crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from german_newspaper_crawler_spark.sources.fetch import table_fetcher
    from german_newspaper_crawler_spark.sources.store import SnapshotStore

    seeds, pages, blobs, _ = make_fixtures(n_hosts=1, articles_per_host=4)
    seeds_df = spark.createDataFrame(
        [(s["domain"], s["base_url"], s["host"], s["collection"]) for s in seeds],
        ["domain", "base_url", "host", "collection"],
    )
    results = {}
    for label, tagger in (("sql", None), ("stage", WhitespaceTagger())):
        store = SnapshotStore(str(tmp_path / label))
        cfg = CrawlConfig(
            n_buckets=8, max_rounds=3, parsed_ts=datetime(2026, 1, 2),
            extract_images=False, tagger=tagger,
        )
        run_crawl(spark, store, seeds_df, table_fetcher(pages, blobs), cfg=cfg)
        results[label] = {
            r["url"]: [t.asDict() for t in r["pos_taggs"]]
            for r in store.read(spark, "articles").collect()
        }
    assert results["stage"] == results["sql"]
    assert any(len(v) > 0 for v in results["sql"].values())


def test_hashed_linear_classifier_exact_score(spark):
    """Inference is a pure function of the uni+bigram bag: the score equals
    the hand-computed sigmoid of the mean bucket weight (+bias); 1-token
    docs contribute no fake bigram; featureless docs get the bias-only
    sigmoid a fastText model emits for an empty feature vector
    (ADVICE-r4: they used to be silently dropped)."""
    import hashlib
    import math

    from german_newspaper_crawler_spark.operators.enrichment import (
        hashed_linear_classifier, synthetic_weight_table,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "solo"), (3, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["score"], r["keep"])
        for r in hashed_linear_classifier(
            df, "doc_id", "text", synthetic_weight_table(spark, 1024)
        ).collect()
    }

    def h64(s: str) -> int:  # the shared hash: first 15 sha256 hex chars
        return int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)

    def w(gram):
        return h64(f"w#{h64(gram) % 1024}") % 2001 - 1000

    def expected(grams):
        s = sum(w(g) for g in grams)
        return round(1 / (1 + math.exp(-(s / (1000.0 * len(grams)) + 0.1))), 6)

    assert got[1][0] == expected(
        ["alpha", "beta", "gamma", "alpha beta", "beta gamma"]
    )
    assert got[2][0] == expected(["solo"])  # no fake self-bigram
    # featureless doc: bias-only sigmoid, never a silent drop
    assert got[3][0] == round(1 / (1 + math.exp(-0.1)), 6)
    assert len(got) == 3  # one row per input doc
    for score, keep in got.values():
        assert keep == (score >= 0.5)
