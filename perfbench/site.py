"""Seeded synthetic news site for the crawl workloads.

A site is a few hosts, each with one listing page linking to its articles.
Every article carries figures; images are small low-frequency PNGs whose
pHashes are pairwise far apart, except for planted exact duplicates (the
same image bytes under a second URL), which the crawl must suppress. Each
host serves a robots.txt that disallows ``/intern/``; every listing links a
few such pages, which the crawl must never fetch.

Pages are generated from the URL alone, inside the fetcher, so the site is
never shipped to the Spark workers as a table and the fetch cost lands in
the executor stage that a real network fetch would occupy.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass
from functools import cached_property
from urllib.parse import urlsplit

WORDS = (
    "der die das und nicht mit ein ist zeitung bericht stadt land fluss "
    "politik kultur sport wirtschaft regierung wahl schule verkehr wetter "
    "markt hafen bahn klinik theater verein gericht rathaus"
).split()

# pHash distance below which two generated images count as near duplicates;
# kept well above the crawl's default suppression radius (4) so only the
# planted exact duplicates are ever suppressed
MIN_PHASH_DISTANCE = 12
IMAGE_SIZE = 32


def _h(*parts) -> int:
    key = "|".join(str(p) for p in parts).encode()
    return int.from_bytes(hashlib.sha256(key).digest()[:8], "big")


@dataclass(frozen=True)
class Site:
    """The whole site as a pure function of its parameters. Called with a
    URL it is the crawl's fetcher."""

    seed: int
    n_hosts: int = 6
    articles_per_host: int = 24
    figs_per_article: int = 1
    blocked_per_host: int = 2
    dup_every: int = 4  # every Nth article's first figure reuses an image

    @property
    def hosts(self) -> list[str]:
        tag = _h("site", self.seed) % 100_000
        return [f"s{tag:05d}-h{k:02d}.example" for k in range(self.n_hosts)]

    def seeds(self) -> list[dict]:
        return [
            {"domain": f"d{k:02d}", "base_url": f"https://{h}/", "host": h,
             "collection": f"col{k:02d}"}
            for k, h in enumerate(self.hosts)
        ]

    # -- URLs --------------------------------------------------------------
    def article_urls(self) -> list[str]:
        return [f"https://{h}/artikel/a{i}" for h in self.hosts
                for i in range(self.articles_per_host)]

    def blocked_urls(self) -> list[str]:
        return [f"https://{h}/intern/p{i}" for h in self.hosts
                for i in range(self.blocked_per_host)]

    # -- images --------------------------------------------------------------
    @cached_property
    def _image_seeds(self) -> dict[tuple[str, int, int], int]:
        """(host, article, figure) → image seed. Seeds are drawn so that pHashes of distinct images are at
        least MIN_PHASH_DISTANCE bits apart; every ``dup_every``-th article's
        first figure reuses the previous article's first image."""
        from german_newspaper_crawler_spark.fixtures import make_image
        from german_newspaper_crawler_spark.functions.phash import hamming64, phash64

        rng = random.Random(_h("images", self.seed))
        out: dict[tuple[str, int, int], int] = {}
        accepted: list[int] = []
        for i in range(self.articles_per_host):
            for host in self.hosts:
                for j in range(self.figs_per_article):
                    if j == 0 and i > 0 and i % self.dup_every == 0:
                        out[(host, i, j)] = out[(host, i - 1, 0)]
                        continue
                    while True:
                        s = rng.randrange(1 << 30)
                        ph = phash64(make_image(s, size=IMAGE_SIZE))
                        if all(hamming64(ph, q) >= MIN_PHASH_DISTANCE for q in accepted):
                            break
                    accepted.append(ph)
                    out[(host, i, j)] = s
        return out

    def image_bytes(self, host: str, i: int, j: int) -> bytes:
        from german_newspaper_crawler_spark.fixtures import make_image
        from german_newspaper_crawler_spark.functions.codec import encode_png

        return encode_png(make_image(self._image_seeds[(host, i, j)], size=IMAGE_SIZE))

    def expected_phashes(self) -> set[int]:
        """Distinct pHashes of every image on the site."""
        from german_newspaper_crawler_spark.fixtures import make_image
        from german_newspaper_crawler_spark.functions.phash import phash64

        seeds = set(self._image_seeds.values())
        return {phash64(make_image(s, size=IMAGE_SIZE)) for s in seeds}

    # -- pages -----------------------------------------------------------------
    LADDER = ("teaser-link", "headline-link", "article__link")

    def links(self, host: str) -> list[tuple[str, str, int]]:
        """The listing's links as (absolute url, anchor text, ladder rank)."""
        n = self.articles_per_host
        out = [(f"https://{host}/artikel/a{i}", f"Meldung {i} aus {host.split('.')[0]}", i % 3)
               for i in range(n)]
        out += [(f"https://{host}/intern/p{i}", f"Intern {host} {i}", 0)
                for i in range(self.blocked_per_host)]
        return out

    def listing_html(self, host: str) -> str:
        rows = [f'<a class="{self.LADDER[rank]}" href="{urlsplit(url).path}">{text}</a>'
                for url, text, rank in self.links(host)]
        return "<html><body>\n" + "\n".join(rows) + "\n</body></html>"

    def article_html(self, host: str, i: int) -> str:
        h = _h("article", self.seed, host, i)
        rng = random.Random(h)
        paras = []
        for k in range(6):
            toks = " ".join(rng.choice(WORDS) for _ in range(30))
            paras.append(f"<p>{host} {i}.{k} {toks}</p>")
        figs = "".join(
            f'<figure><img src="/img/{i}_{j}.png"><figcaption>Bild {i}.{j}</figcaption></figure>'
            for j in range(self.figs_per_article)
        )
        return (
            f'<html><head><meta name="author" content="Autor {h % 50}">'
            f'<meta name="description" content="Teaser {i}"></head><body>'
            f'<time datetime="2024-03-{(h % 27) + 1:02d}T10:00:00">x</time>'
            f'<span class="headline typo-r-topline-detail">Ressort {h % 12}</span>'
            f'<div class="article__body">{"".join(paras)}{figs}</div></body></html>'
        )

    def __call__(self, url: str) -> tuple[int, str, bytes | None]:
        """The fetcher contract: url → (status, html, content_bytes|None)."""
        parts = urlsplit(url)
        host, path = parts.netloc, parts.path
        if host not in self._host_set:
            return 404, "", None
        if path == "/robots.txt":
            return 200, "User-agent: *\nDisallow: /intern/\n", None
        if path == "/":
            return 200, self.listing_html(host), None
        n = self.articles_per_host
        if path.startswith("/artikel/a"):
            i = int(path[len("/artikel/a"):])
            if i < n:
                return 200, self.article_html(host, i), None
        if path.startswith("/img/") and path.endswith(".png"):
            i, j = (int(x) for x in path[5:-4].split("_"))
            if i < n and j < self.figs_per_article:
                return 200, "", self.image_bytes(host, i, j)
        return 404, "", None

    @cached_property
    def _host_set(self) -> frozenset[str]:
        return frozenset(self.hosts)

