"""Deterministic synthetic web graphs (fixtures; FIXTURES.md §1).

Everything is generated from fixed seeds — no wall clock, no network, no
external data. A "site" is a pages table: one row per fetchable URL,
addressed by its canonical ``url_key`` (an HTTP server resolves by
cleaned path + query, never by fragment — matching how the reference's
test file-server behaves).

Graphs:
- ``basic16``  — structural replica of the reference integration fixture
  ``/root/reference/testdata/basic`` served by Go's http.FileServer
  (integration_test.go:21-59): root auto-listing + 2 content pages +
  2 sub-directory listings + 11 leaf pages ⇒ exactly 16 visited URLs.
- ``richsite`` — single-host site exercising every href form (relative,
  root-relative, protocol-relative, fragment-only, absolute off-host,
  query params, dot-segments, duplicates, dead links) plus interleaved
  text+media content for span documents.
- ``powerlaw`` — multi-host graph with zipf-skewed host sizes (hot hosts)
  for politeness/skew/scale benchmarks.

Output: list[dict] rows with columns (url, host, url_key, status,
content_html) — convertible to pandas / Spark DataFrames.
"""

from __future__ import annotations

import random
from typing import Dict, List, Optional, Tuple

from .purl import parse_url, url_key_of


def _row(url: str, status: int = 200, html: str = "") -> dict:
    u = parse_url(url)
    return {
        "url": url,
        "host": u.host,
        "url_key": url_key_of(url),
        "status": status,
        "content_html": html,
    }


def _listing(entries: List[str]) -> str:
    """Go http.FileServer directory listing shape: one <a> per entry,
    sorted by name, directories with a trailing slash."""
    links = "\n".join(f'<a href="{e}">{e}</a>' for e in entries)
    return f"<pre>\n{links}\n</pre>\n"


def _page(body: str) -> str:
    return f"<html>\n\t<head></head>\n\t<body>\n{body}\n\t</body>\n</html>\n"


def basic16(host: str = "example.com") -> Tuple[List[dict], List[str]]:
    """The reference integration fixture as a pages table. Crawling seed
    ``http://host`` must visit exactly 16 URLs (integration_test.go:38-59:
    root listing, site1, site2, sub1/ listing, sub1-0, sub2/ listing,
    sub2-0..9), with site1's three off-host links rejected and its
    duplicate /sub2 links deduplicated."""
    base = f"http://{host}"
    site1_body = "\n".join(
        [f'\t\t<a href="/sub2/sub2-{i}.html">/sub2/sub2-{i}.html</a>' for i in range(4)]
        + [
            '\t\t<a href="https://google.com">https://google.com</a>',
            '\t\t<a href="https://yahoo.com">https://yahoo.com</a>',
            '\t\t<a href="https://bing.com">https://bing.com</a>',
        ]
    )
    pages = [
        _row(f"{base}/", html=_listing(["site1.html", "site2.html", "sub1/", "sub2/"])),
        _row(f"{base}/site1.html", html=_page(site1_body)),
        _row(f"{base}/site2.html", html=_page("")),
        _row(f"{base}/sub1/", html=_listing(["sub1-0.html"])),
        _row(f"{base}/sub1/sub1-0.html", html=_page("")),
        _row(f"{base}/sub2/", html=_listing([f"sub2-{i}.html" for i in range(10)])),
    ] + [_row(f"{base}/sub2/sub2-{i}.html", html=_page("")) for i in range(10)]
    return pages, [base]


def richsite(host: str = "rich.example", n_articles: int = 20, seed: int = 42) -> Tuple[List[dict], List[str]]:
    """Single-host site with every href form + interleaved text/media."""
    rng = random.Random(seed)
    base = f"http://{host}"
    pages: List[dict] = []

    article_links = []
    for i in range(n_articles):
        # vary the href form deterministically
        form = i % 6
        if form == 0:
            href = f"/articles/a{i}.html"
        elif form == 1:
            href = f"articles/a{i}.html"  # relative (root parent → same)
        elif form == 2:
            href = f"//{host}/articles/a{i}.html"
        elif form == 3:
            href = f"/articles/a{i}.html#section-{i}"
        elif form == 4:
            href = f"/articles/a{i}.html?ref=home"
        else:
            href = f"/articles/../articles/a{i}.html"  # dot-segments
        article_links.append(f'<a href="{href}">article {i}</a>')

    home_body = "\n".join(
        ["<h1>Rich   site</h1>", "<p>welcome\r\nhome</p>"]
        + article_links
        + [
            '<a href="/articles/a0.html">dup</a>',
            '<a href="https://other.example/x">offhost</a>',
            '<a href="/dead/404.html">dead</a>',
            '<a href="#top">top</a>',
            '<img src="/img/logo.png">',
        ]
    )
    pages.append(_row(f"{base}/", html=_page(home_body)))
    pages.append(_row(f"{base}/dead/404.html", status=404, html="not found"))

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    for i in range(n_articles):
        paras = []
        for p in range(rng.randint(1, 4)):
            txt = " ".join(rng.choices(words, k=rng.randint(5, 15)))
            paras.append(f"<p>{txt}</p>")
            if rng.random() < 0.5:
                paras.append(f'<img src="/img/a{i}-{p}.png">')
        nxt = f'<a href="a{(i + 1) % n_articles}.html">next</a>'
        up = '<a href="/">home</a>'
        # note: relative "a{j}.html" under parent /articles/a{i}.html resolves
        # (non-RFC) to /articles/a{i}.html/a{j}.html → a distinct dead URL;
        # that is faithful reference behavior and exercises 404 fetches.
        pages.append(
            _row(f"{base}/articles/a{i}.html", html=_page("\n".join(paras + [nxt, up])))
        )
    return pages, [base]


def chain(n: int, host: str = "chain.example") -> Tuple[List[dict], List[str]]:
    base = f"http://{host}"
    pages = []
    for i in range(n):
        nxt = f'<a href="/p{i + 1}.html">next</a>' if i + 1 < n else ""
        pages.append(_row(f"{base}/p{i}.html", html=_page(f"<p>page {i}</p>\n{nxt}")))
    return pages, [f"{base}/p0.html"]


def powerlaw(
    n_pages: int = 2000,
    n_hosts: int = 20,
    out_degree: int = 12,
    seed: int = 42,
    hot_host_share: float = 0.5,
    paragraphs: int = 1,
    seed_fraction: float = 0.02,
) -> Tuple[List[dict], List[str]]:
    """Multi-host graph with one hot host holding ``hot_host_share`` of all
    pages (the skew case salted partitioning must survive) and zipf-ish
    sizes for the rest. Deterministic in ``seed``."""
    rng = random.Random(seed)
    hosts = [f"h{h}.example" for h in range(n_hosts)]

    # assign pages to hosts: host 0 is hot, rest zipf-decaying
    page_host: List[int] = []
    n_hot = int(n_pages * hot_host_share)
    page_host.extend([0] * n_hot)
    weights = [1.0 / (h + 1) for h in range(1, n_hosts)]
    total_w = sum(weights)
    remaining = n_pages - n_hot
    for h, w in enumerate(weights, start=1):
        cnt = int(remaining * w / total_w)
        page_host.extend([h] * cnt)
    while len(page_host) < n_pages:
        page_host.append(1 + rng.randrange(n_hosts - 1))

    urls = [f"http://{hosts[page_host[i]]}/p/{i}" for i in range(n_pages)]

    pages = []
    words = ["crawl", "frontier", "spark", "shard", "queue", "host", "span"]
    for i in range(n_pages):
        links = []
        for _ in range(out_degree):
            j = rng.randrange(n_pages)
            if rng.random() < 0.7 and page_host[j] != page_host[i]:
                # bias toward same-host links (real webs are host-local)
                j = (i + rng.randrange(1, 50)) % n_pages
            links.append(f'<a href="{urls[j]}">l{j}</a>')
        if rng.random() < 0.1:
            links.append(f'<a href="/missing/{i}">dead</a>')
        body = [
            f"<p>{' '.join(rng.choices(words, k=12))}</p>"
            for _ in range(paragraphs)
        ] + links
        if rng.random() < 0.3:
            body.append(f'<img src="/img/{i}.png">')
        pages.append(_row(urls[i], html=_page("\n".join(body))))

    step = max(1, int(1 / max(seed_fraction, 1e-9)))
    seeds = [urls[i] for i in range(0, n_pages, step)]
    return pages, seeds


def pages_index(pages: List[dict]) -> Dict[Tuple[str, str], Tuple[int, Optional[str]]]:
    """(host, url_key) → (status, html) lookup used by the oracle's fetch
    resolver (the single-process analogue of the Spark resolver join)."""
    return {(p["host"], p["url_key"]): (p["status"], p["content_html"]) for p in pages}

