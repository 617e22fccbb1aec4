"""Workload inputs, engine configs and oracle expectations.

Every input is generated from the workload seed alone, so the same seed
gives the same web, the same seeds list, the same robots rules and the
same oracle answer. The engine receives the inputs as parquet scans.

Two crawl workloads:

* ``wide`` -- the bench.py power-law graph shape (24 hosts, hot-host
  share 0.4, out-degree 25, 20 paragraphs, 25% seeds) at a size a run
  can afford. Every href is an absolute clean URL, so the native parse
  and canonicalization tiers carry almost every row.
* ``dirty`` -- a generated multi-host web whose markup and hrefs fall
  outside the native grammars (relative, dot-segment, percent-encoded and
  protocol-relative hrefs, anchors with extra attributes, relative media
  srcs), crawled under robots crawl-delay budgets with seen compaction
  firing, so the exact Python tiers, ``robots_budgets``/``apply_robots``
  and ``CheckpointStore.compact`` all run.

Every crawl runs ``ROUNDS`` round(s) in two legs: a first ``Crawler``
commits the seed frontier and is then stopped, as by a crash, before its
first round; a fresh ``Crawler`` on the same checkpoint resumes to the
end. So every crawl reads the durable checkpoint once.
"""

from __future__ import annotations

import hashlib
import math
import random
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from crawlspark.purl import parse_url, url_key_of
from crawlspark.synth import pages_index, powerlaw


@dataclass
class Web:
    """One generated input: pages table rows, seed URLs, robots rules."""

    pages: List[dict]
    seeds: List[str]
    hosts: List[str]
    robots: List[tuple] = field(default_factory=list)


# max_rounds of every crawl: one round costs about 15 s of mostly fixed
# per-round Spark work at local[4], and a run must fit a minute
ROUNDS = 1


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    engine_cfg: dict  # CrawlConfig fields beyond the shared bench ones
    oracle_cfg: dict  # the matching oracle.crawl budget arguments

    def web(self, seed: int) -> Web:
        return WEBS[self.name](self, seed)


def _row(url: str, html: str, status: int = 200) -> dict:
    return {
        "url": url,
        "host": parse_url(url).host,
        "url_key": url_key_of(url),
        "status": status,
        "content_html": html,
    }


def _page(body: str) -> str:
    return f"<html>\n<head></head>\n<body>\n{body}\n</body>\n</html>\n"


def wide_web(w: Workload, seed: int) -> Web:
    pages, seeds = powerlaw(
        n_pages=w.n_pages, n_hosts=24, out_degree=25, paragraphs=20,
        seed=seed, hot_host_share=0.4, seed_fraction=0.25,
    )
    return Web(pages, seeds, sorted({p["host"] for p in pages}))


# robots crawl-delays (seconds) for the first dirty hosts; with
# round_wall_secs=24 they give budgets of 24, 6 and 4 fetches per round
# and every other host gets the default ceil(24 / 3) = 8, so the round's
# budgets carry part of the seed frontier over
DIRTY_DELAYS = (1.0, 4.0, 6.0)
DIRTY_HOSTS = 12
_WORDS = ("crawl", "frontier", "spark", "shard", "queue", "host", "span")


def dirty_web(w: Workload, seed: int) -> Web:
    """Pages live at http://d{h}.example/s{d}/p{i}.html. Each link to page
    j is written in one of several forms the native grammars reject;
    which form is drawn from the seed."""
    rng = random.Random(seed)
    n = w.n_pages
    hosts = [f"d{h}.example" for h in range(DIRTY_HOSTS)]
    # host 0 holds a third of the pages, the rest are spread evenly
    host_of = [0 if i % 3 == 0 else 1 + i % (DIRTY_HOSTS - 1) for i in range(n)]
    dir_of = [rng.randrange(4) for _ in range(n)]

    def path(j: int) -> str:
        return f"/s{dir_of[j]}/p{j}.html"

    def href(i: int, j: int) -> str:
        same_host = host_of[i] == host_of[j]
        form = rng.randrange(6)
        if not same_host or form == 0:
            # protocol-relative
            return f"//{hosts[host_of[j]]}{path(j)}"
        if form == 1:
            return f"../s{dir_of[j]}/p{j}.html"  # dot-segment relative
        if form == 2:
            return f"/s{dir_of[j]}/x/../p{j}.html"  # rooted dot-segments
        if form == 3:
            return f"/s{dir_of[j]}/p{j}.ht%6Dl"  # percent-encoded
        if form == 4:
            return f"./../s{dir_of[j]}/./p{j}.html#frag"
        return f"http://{hosts[host_of[j]]}{path(j)}?ref={i}"

    pages = []
    for i in range(n):
        body = [
            f"<p class=\"t\">{' '.join(rng.choices(_WORDS, k=10))}</p>"
            for _ in range(6)
        ]
        for _ in range(12):
            j = rng.randrange(n)
            if rng.random() < 0.7:
                # host-local bias, as in real webs
                j = (i + 3 * rng.randrange(1, 40)) % n
            body.append(
                f'<a class="l" data-i="{j}" href="{href(i, j)}">l{j}</a>'
            )
        if rng.random() < 0.1:
            body.append(f'<a href="../missing/{i}.html">dead</a>')
        if rng.random() < 0.5:
            body.append(f'<img alt="i{i}" src="../img/{i}.png">')
        url = f"http://{hosts[host_of[i]]}{path(i)}"
        pages.append(_row(url, _page("\n".join(body))))
    step = 10  # 10% seeds
    seeds = [pages[i]["url"] for i in range(0, n, step)]
    robots = [
        (hosts[k], "/", True, d) for k, d in enumerate(DIRTY_DELAYS)
    ]
    return Web(pages, seeds, hosts, robots)


WEBS = {"wide": wide_web, "dirty": dirty_web}

_WIDE_PAGES = 2000
_ROUND_WALL = 24.0
_DEFAULT_DELAY = 3.0

WORKLOADS = {
    # host_budget = pages: politeness windows run, nothing is deferred
    "wide": Workload(
        name="wide", n_pages=_WIDE_PAGES,
        engine_cfg={"host_budget": _WIDE_PAGES},
        oracle_cfg={"host_budget": _WIDE_PAGES},
    ),
    "dirty": Workload(
        name="dirty", n_pages=1200,
        engine_cfg={
            "round_wall_secs": _ROUND_WALL,
            "default_delay_secs": _DEFAULT_DELAY,
            # 2 seen batches exist after round 0 (seeds, round 0), so
            # compaction fires once per crawl
            "seen_compact_fanin": 2,
        },
        oracle_cfg={
            "host_budgets": {
                f"d{k}.example": math.ceil(_ROUND_WALL / d)
                for k, d in enumerate(DIRTY_DELAYS)
            },
            "default_budget": math.ceil(_ROUND_WALL / _DEFAULT_DELAY),
        },
    ),
}

def crawl_config(w: Workload, web: Web, checkpoint_dir: str, partitions: int):
    """bench.py's CrawlConfig (bloom on, broadcast seen probe, bucketed
    seen, pages not broadcast), plus the workload's own fields."""
    from crawlspark.engine import CrawlConfig

    return CrawlConfig(
        checkpoint_dir=checkpoint_dir,
        multi_host=True,
        hosts=web.hosts,
        max_rounds=ROUNDS,
        num_partitions=partitions,
        broadcast_pages=False,
        use_bloom=True,
        seen_probe="broadcast",
        **w.engine_cfg,
    )


def docs_digest(docs) -> str:
    """Order-independent digest of (doc_id, spans) pairs, each span a
    (kind, text, media_ref, offset) tuple."""
    h = hashlib.sha256()
    for doc_id, spans in sorted(docs):
        h.update(repr((doc_id, spans)).encode())
    return h.hexdigest()


@dataclass
class Expected:
    """The oracle's answer, reduced to what a run compares."""

    order: List[Tuple[str, int, int]]  # (url, round, disc_order)
    seen: frozenset
    docs: str
    counts: Dict[int, Tuple[int, int, int, int]]


def oracle_expected(w: Workload, web: Web) -> Expected:
    from crawlspark import oracle

    res = oracle.crawl(
        pages_index(web.pages), web.seeds, "",
        multi_host=True, hosts=set(web.hosts), max_rounds=ROUNDS,
        **w.oracle_cfg,
    )
    docs = docs_digest(
        (d, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in sp])
        for d, sp in res.documents
    )
    return Expected(
        order=sorted(res.order_tuples, key=lambda t: t[2]),
        seen=frozenset(res.seen),
        docs=docs,
        counts={
            c["round"]: (c["scheduled"], c["fetched_ok"], c["failed"],
                         c["new_urls"])
            for c in res.counts
        },
    )


def read_table(ckpt, table: str, columns: List[str]) -> List[dict]:
    """Rows of a checkpoint table, read with pyarrow from its committed
    ``batch=N`` directories -- the ones ``CheckpointStore.read`` reads --
    so checking a crawl starts no Spark job."""
    import glob
    import os

    import pyarrow.dataset as ds

    base = os.path.join(str(ckpt), table)
    files = sorted(glob.glob(os.path.join(base, "batch=*", "**", "*.parquet"),
                             recursive=True))
    if not files:
        return []
    return ds.dataset(
        files, format="parquet", partitioning="hive",
        partition_base_dir=base,
    ).to_table(columns=columns).to_pylist()


def check(ckpt, want: Expected) -> Optional[str]:
    """None when the crawl in checkpoint ``ckpt`` equals the oracle, else
    what differs."""
    order = sorted(
        ((r["url"], r["round"], r["disc_order"])
         for r in read_table(ckpt, "order", ["url", "round", "disc_order"])),
        key=lambda t: t[2],
    )
    if order != want.order:
        return f"crawl order differs ({len(order)} vs {len(want.order)} rows)"
    seen = frozenset(r["url_key"] for r in read_table(ckpt, "seen",
                                                       ["url_key"]))
    if seen != want.seen:
        return f"seen set differs ({len(seen)} vs {len(want.seen)} keys)"
    docs = docs_digest(
        (r["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"])
                       for s in r["spans"]])
        for r in read_table(ckpt, "documents", ["doc_id", "spans"])
    )
    if docs != want.docs:
        return "documents digest differs"
    counts = {
        r["round"]: (r["scheduled"], r["fetched_ok"], r["failed"],
                     r["new_urls"])
        for r in read_table(ckpt, "metrics", ["round", "scheduled",
                                              "fetched_ok", "failed",
                                              "new_urls"])
    }
    if counts != want.counts:
        return f"per-round counts differ: {counts} vs {want.counts}"
    return None
