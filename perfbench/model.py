"""Closed-form expectations for the benchmark's generated workloads.

Pure Python, no Spark: everything here is derived from the generator's
formulas (``frontier.synth.synth_crawl_corpus`` with ``robots_rules=True``)
and from the job's documented semantics, so a job's output can be checked
without trusting any engine code.

- page ``p{leaf}_{i}.html`` carries ``key = (leaf*7919 + i*104729) % 100000``,
  ``priority = 0.{key % 10}`` and a lastmod stamp derived from ``key``;
- every robots.txt gives ``frontierbot`` ``Disallow: /p0_`` with a longer
  ``Allow: /p0_1`` (longest match wins) and ``Crawl-delay: 1 + host % 5``;
- the plan keeps, per host, the top ``min(default_budget, floor(round /
  delay))`` allowed pages ranked by (priority desc, lastmod desc, url asc).
"""

from __future__ import annotations

import random
import zlib
from dataclasses import dataclass

ROUND_SECONDS = 30.0
DEFAULT_BUDGET = 12


@dataclass(frozen=True)
class Shape:
    """Generator parameters of one workload."""

    hosts: int
    leaves: int
    pages_per_leaf: int
    #: history URLs in the seen set before the first job (0: no seen set)
    history: int = 0


def seed_urls(shape: Shape, seed: int) -> list[str]:
    """The job's seed list: every host's homepage, in a seed-driven order."""
    urls = [f"http://host{h}.example.com/" for h in range(shape.hosts)]
    random.Random(seed).shuffle(urls)
    return urls


def seen_hosts(shape: Shape) -> list[int]:
    """Hosts whose sitemap URLs the seen set already holds: every host when
    the workload has a seen set (a recrawl with nothing new to fetch)."""
    return list(range(shape.hosts)) if shape.history else []


def sitemap_urls(shape: Shape, host: int) -> list[str]:
    """Every sitemap URL one host serves: robots.txt, index, leaves."""
    base = f"http://host{host}.example.com"
    return [f"{base}/robots.txt", f"{base}/sitemap_index.xml"] + [
        f"{base}/leaf_{j}.xml" for j in range(shape.leaves)
    ]


def _page(leaf: int, i: int) -> tuple[float, str, str]:
    key = (leaf * 7919 + i * 104729) % 100000
    stamp = f"2025-{1 + key % 12:02d}-{1 + key % 28:02d}T{key % 24:02d}:00:00"
    return key % 10 / 10, stamp, f"/p{leaf}_{i}.html"


def _allowed(path: str) -> bool:
    return not path.startswith("/p0_") or path.startswith("/p0_1")


def host_budget(host: int) -> int:
    delay = 1 + host % 5
    return min(DEFAULT_BUDGET, max(1, int(ROUND_SECONDS // delay)))


@dataclass(frozen=True)
class Expected:
    pages: int
    nodes: int
    plan_rows: int
    plan_digest: int
    pages_dropped: int
    #: sitemap URLs fetched or dropped as already seen, plus pages parsed
    resolved_urls: int
    #: seen-table rows after the job's record_seen + compact (0: no seen set)
    seen_rows: int
    waves: int


def expected(shape: Shape) -> Expected:
    pages = [
        _page(leaf, i)
        for leaf in range(shape.leaves)
        for i in range(shape.pages_per_leaf)
    ]
    allowed = [p for p in pages if _allowed(p[2])]
    # priority desc, lastmod desc, url asc; the host prefix is shared, so
    # the url order within a host is the path order
    ranked = sorted(allowed, key=lambda p: p[2])
    ranked.sort(key=lambda p: (p[0], p[1]), reverse=True)
    skipped = set(seen_hosts(shape))
    crawled = [h for h in range(shape.hosts) if h not in skipped]
    digest = 0
    plan_rows = 0
    for h in crawled:
        k = min(host_budget(h), len(ranked))
        plan_rows += k
        for rank, (_, _, path) in enumerate(ranked[:k], start=1):
            url = f"http://host{h}.example.com{path}"
            digest += zlib.crc32(f"{url}|{rank}".encode())
    per_host_pages = len(pages)
    per_host_sitemaps = 2 + shape.leaves
    n = len(crawled)
    return Expected(
        pages=n * per_host_pages,
        # root + robots + index + leaves per crawled host; a skipped host
        # keeps only its root
        nodes=n * (1 + per_host_sitemaps) + len(skipped),
        plan_rows=plan_rows,
        plan_digest=digest,
        pages_dropped=n * (len(pages) - len(allowed)),
        resolved_urls=n * (per_host_sitemaps + per_host_pages) + len(skipped),
        seen_rows=(shape.history + shape.hosts * per_host_sitemaps)
        if shape.history
        else 0,
        # robots, index, leaves; a fully seen crawl stops after robots
        waves=3 if crawled else 1,
    )
