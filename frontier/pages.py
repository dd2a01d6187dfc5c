"""Common-Crawl-style pages-corpus surface (BASELINE.json ``input_hint``).

The north rule's input table is ``(url string, warc_ts timestamp,
html binary, text string, lang string)`` — an Iceberg/parquet corpus of
fetched web pages.  This module makes that shape a first-class citizen of
the engine:

* :func:`extract_text` — the per-row invariant ("byte-identical extracted
  text per url"): a deterministic HTML→text kernel over the ``html`` binary
  column, Arrow-batched via ``mapInPandas`` (HTML tokenization is genuinely
  not SQL).  The extraction contract is exact and documented on
  :func:`html_to_text` so "byte-identical" is a testable statement.
* :func:`seeds_from_pages` — corpus → homepage seed DataFrame feeding the
  ``seeds: DataFrame`` overload of
  :func:`frontier.waves.sitemap_tree_for_homepages`; hosts are derived and
  deduped as column expressions, so a 10¹⁰-row corpus never touches the
  driver.
* :func:`latest_capture` — CC-style recrawl dedup: one row per URL, the
  capture with the newest ``warc_ts`` wins.  Single map-side-combinable
  aggregation (``max_by``), no window, no sort.
* :func:`extract_links` — link discovery: ``<a href>`` targets from the
  ``html`` binary, resolved against the page URL and defragmented, as a
  ``(url, outlink)`` edge list.  This is how a crawl frontier grows beyond
  sitemaps — discovered edges feed the same seen-set anti-join
  (:mod:`frontier.dedup`) and politeness queue (:mod:`frontier.schedule`)
  as sitemap pages.

Scale notes: ``extract_text``/``extract_links`` are embarrassingly parallel
(no shuffle; per-page dedup happens inside the kernel, so the explode emits
no within-page duplicates); ``seeds_from_pages`` is one partial-agg distinct
on a short host string; ``latest_capture`` shuffles compact
(url, ts, payload-pointer) structs once.
"""

from __future__ import annotations

import codecs
import re
from html.parser import HTMLParser
from typing import Iterator
from urllib.parse import urldefrag, urljoin

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from frontier.schemas import PAGES_CORPUS_SCHEMA

__all__ = [
    "PAGES_CORPUS_SCHEMA",
    "expand_frontier",
    "extract_anchors",
    "extract_links",
    "extract_canonical_links",
    "extract_main_text",
    "extract_text",
    "html_canonical",
    "host_link_graph",
    "html_anchors",
    "html_main_text",
    "html_outlinks",
    "html_to_text",
    "latest_capture",
    "mirror_hosts",
    "seeds_from_pages",
    "snapshot_diff",
]

_SKIP_CONTENT = {"script", "style"}


class _TextCollector(HTMLParser):
    """Accumulates character data into blocks; any tag boundary flushes."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[str] = []
        self._buf: list[str] = []
        self._skip_depth = 0

    def _flush(self) -> None:
        if self._buf:
            self.blocks.append("".join(self._buf))
            self._buf.clear()

    def handle_starttag(self, tag, attrs) -> None:
        self._flush()
        if tag in _SKIP_CONTENT:
            self._skip_depth += 1

    def handle_startendtag(self, tag, attrs) -> None:
        self._flush()

    def handle_endtag(self, tag) -> None:
        self._flush()
        if tag in _SKIP_CONTENT and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0 and data:
            self._buf.append(data)


def html_to_text(html: bytes | str | None) -> str:
    """Deterministic HTML→text: the engine's byte-exact extraction contract.

    Rules (each one is part of the per-row invariant):

    1. bytes decode as UTF-8 with U+FFFD replacement;
    2. character/entity references decode (``&amp;`` → ``&``);
    3. ``<script>``/``<style>`` content is dropped;
    4. contiguous character data between tag boundaries forms one block,
       preserved verbatim (no stripping, no whitespace collapsing);
    5. blocks join with a single ``\\n``.

    Malformed markup never raises — HTMLParser recovers and the contract
    applies to whatever it tokenizes.
    """
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    collector = _TextCollector()
    collector.feed(html)
    collector.close()
    collector._flush()
    return "\n".join(collector.blocks)


def extract_text(
    pages: DataFrame,
    html_col: str = "html",
    out_col: str = "extracted_text",
) -> DataFrame:
    """Apply :func:`html_to_text` to the ``html`` binary column.

    Arrow-batched ``mapInPandas`` preserving every input column; no shuffle,
    scales linearly with executors.
    """
    import pyspark.sql.types as T

    schema = T.StructType(
        pages.schema.fields + [T.StructField(out_col, T.StringType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            batch[out_col] = [html_to_text(h) for h in batch[html_col]]
            yield batch

    return pages.mapInPandas(kernel, schema)


#: Tags that delimit text blocks for main-content extraction. Inline markup
#: (<a> <b> <em> <span> …) does NOT split a block — that is the difference
#: from the byte-exact html_to_text contract, where EVERY tag flushes.
_BLOCK_TAGS = frozenset(
    "p div li ul ol dl dt dd h1 h2 h3 h4 h5 h6 table thead tbody tr td th "
    "section article header footer nav aside main blockquote pre br hr form "
    "figure figcaption body html head title script style".split()
)


class _MainTextCollector(HTMLParser):
    """Block segmentation for boilerplate removal: character data
    accumulates across inline tags and flushes at block-tag boundaries;
    per block, the chars contributed inside ``<a>`` elements are counted
    (the link-density signal)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int]] = []  # (block text, anchor chars)
        self._buf: list[str] = []
        self._anchor_chars = 0
        self._skip_depth = 0
        self._a_depth = 0

    def _flush(self) -> None:
        text = "".join(self._buf)
        if text.strip():
            self.blocks.append((text, self._anchor_chars))
        self._buf, self._anchor_chars = [], 0

    def handle_starttag(self, tag, attrs) -> None:
        if tag in _BLOCK_TAGS:
            self._flush()
        if tag in _SKIP_CONTENT:
            self._skip_depth += 1
        elif tag == "a":
            self._a_depth += 1

    def handle_startendtag(self, tag, attrs) -> None:
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag) -> None:
        if tag in _BLOCK_TAGS:
            self._flush()
        if tag in _SKIP_CONTENT:
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag == "a":
            self._a_depth = max(0, self._a_depth - 1)

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0 and data:
            self._buf.append(data)
            if self._a_depth > 0:
                self._anchor_chars += len(data)

    def close(self) -> None:
        super().close()
        self._flush()


def html_main_text(
    html: bytes | str | None,
    min_block_chars: int = 30,
    max_link_density: float = 0.5,
) -> str:
    """Boilerplate-removed main content — the heuristic every web-corpus
    pipeline runs between raw HTML and the training set.  Deterministic,
    documented contract (each rule is testable):

    1. text segments into blocks at block-level tag boundaries
       (``_BLOCK_TAGS``); inline markup (``<a>``, ``<b>``, ``<span>``, …)
       does not split a block; ``<script>``/``<style>`` content drops;
    2. a block is KEPT iff ``len(block.strip()) >= min_block_chars`` AND
       its link density — chars inside ``<a>`` / total block chars — is
       ``<= max_link_density`` (nav bars and link farms are mostly anchor
       text; real paragraphs are not);
    3. kept blocks join with a single ``\\n``, original whitespace
       preserved within each block.

    Malformed markup never raises.  This is a heuristic with explicit
    knobs, NOT the byte-exact :func:`html_to_text` invariant.
    """
    collector = _MainTextCollector()
    if html is not None:
        if isinstance(html, (bytes, bytearray, memoryview)):
            html = bytes(html).decode("utf-8", errors="replace")
        collector.feed(html)
        collector.close()
    kept = []
    for text, anchor_chars in collector.blocks:
        if len(text.strip()) < min_block_chars:
            continue
        if anchor_chars > max_link_density * len(text):
            continue
        kept.append(text)
    return "\n".join(kept)


def extract_main_text(
    pages: DataFrame,
    html_col: str = "html",
    out_col: str = "main_text",
    min_block_chars: int = 30,
    max_link_density: float = 0.5,
) -> DataFrame:
    """Apply :func:`html_main_text` to the ``html`` binary column.  Same
    scale shape as :func:`extract_text`: Arrow-batched ``mapInPandas``
    preserving every input column, no shuffle."""
    import pyspark.sql.types as T

    schema = T.StructType(
        pages.schema.fields + [T.StructField(out_col, T.StringType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            batch[out_col] = [
                html_main_text(h, min_block_chars, max_link_density)
                for h in batch[html_col]
            ]
            yield batch

    return pages.mapInPandas(kernel, schema)


class _LinkCollector(HTMLParser):
    """Collects ``(href, anchor text, nofollow)`` triples in document order,
    plus the page's first ``<base href>`` and its ``<meta name=robots>``
    nofollow flag.  Anchor text is the concatenated character data between
    ``<a href>`` and the matching ``</a>`` (entities decoded by
    ``convert_charrefs``), whitespace-stripped; a dangling anchor flushes at
    document end.  ``nofollow`` is true when the anchor's ``rel`` lists the
    nofollow token (space- or comma-separated, case-insensitive)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[tuple[str, str, bool]] = []
        self.base_href: str | None = None
        self.meta_nofollow = False
        self._href: str | None = None
        self._nofollow = False
        self._text: list[str] = []

    def _flush(self) -> None:
        if self._href is not None:
            self.links.append(
                (self._href, "".join(self._text).strip(), self._nofollow)
            )
        self._href, self._nofollow, self._text = None, False, []

    def handle_starttag(self, tag, attrs) -> None:
        if tag == "a":
            self._flush()  # nested/unclosed <a>: the new anchor supersedes
            rel = None
            for name, value in attrs:
                if name == "href" and value and self._href is None:
                    self._href = value
                elif name == "rel" and value and rel is None:
                    rel = value
            self._nofollow = bool(rel) and "nofollow" in re.split(
                r"[\s,]+", rel.lower()
            )
        elif tag == "base" and self.base_href is None:
            for name, value in attrs:
                if name == "href" and value:
                    self.base_href = value
                    break
        elif tag == "meta":
            d = {name: (value or "") for name, value in attrs}
            if (d.get("name", "").lower() in ("robots", "googlebot")
                    and "nofollow" in d.get("content", "").lower()):
                self.meta_nofollow = True

    def handle_startendtag(self, tag, attrs) -> None:
        self.handle_starttag(tag, attrs)
        if tag == "a":
            self._flush()

    def handle_endtag(self, tag) -> None:
        if tag == "a":
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._href is not None:
            self._text.append(data)

    def close(self) -> None:
        super().close()
        self._flush()


_SKIP_SCHEMES = ("javascript:", "mailto:", "tel:", "data:")


def _resolve_href(href: str, base_url: str) -> str | None:
    """One href → absolute defragmented http(s) URL, or None if skipped.

    1. empty, fragment-only, and ``javascript:``/``mailto:``/``tel:``/
       ``data:`` hrefs are skipped;
    2. relative hrefs resolve against ``base_url`` (RFC 3986 via stdlib
       ``urljoin``), fragments are stripped;
    3. anything that doesn't resolve to ``http(s)://`` is skipped;
    4. an unresolvable href (ValueError) never raises.
    """
    href = href.strip()
    if not href or href.startswith("#") or href.lower().startswith(_SKIP_SCHEMES):
        return None
    try:
        resolved = urldefrag(urljoin(base_url, href)).url
    except ValueError:
        return None
    if not resolved.lower().startswith(("http://", "https://")):
        return None
    return resolved


def _collect_links(html: bytes | str | None) -> _LinkCollector:
    collector = _LinkCollector()
    if html is not None:
        if isinstance(html, (bytes, bytearray, memoryview)):
            html = bytes(html).decode("utf-8", errors="replace")
        collector.feed(html)
        collector.close()
    return collector


def _effective_base(base_url: str, base_href: str | None) -> str:
    """Resolution base for a page's hrefs: the page URL, overridden by the
    page's first ``<base href>`` (itself resolved against the page URL —
    browsers' behavior)."""
    if base_href is None:
        return base_url
    try:
        return urljoin(base_url, base_href.strip())
    except ValueError:
        return base_url


def html_outlinks(
    html: bytes | str | None, base_url: str, respect_nofollow: bool = False
) -> list[str]:
    """Absolute, defragmented http(s) outlinks of one page, first-occurrence
    deduped.  Only ``<a href>`` counts (not ``<link>``/``<img>`` — frontier
    edges, not assets); hrefs resolve against the page's ``<base href>``
    when present; per-href skip/resolve rules are :func:`_resolve_href`'s;
    malformed markup never raises.

    ``respect_nofollow=True`` applies crawl link-exclusion semantics: drop
    anchors whose ``rel`` carries the nofollow token, and drop everything
    when ``<meta name=robots|googlebot content=…nofollow…>`` is present.
    """
    out: list[str] = []
    seen: set[str] = set()
    collector = _collect_links(html)
    if respect_nofollow and collector.meta_nofollow:
        return out
    base = _effective_base(base_url, collector.base_href)
    for href, _text, nofollow in collector.links:
        if respect_nofollow and nofollow:
            continue
        resolved = _resolve_href(href, base)
        if resolved is not None and resolved not in seen:
            seen.add(resolved)
            out.append(resolved)
    return out


def html_anchors(
    html: bytes | str | None, base_url: str, respect_nofollow: bool = False
) -> list[tuple[str, str]]:
    """``(outlink, anchor text)`` pairs of one page — same link contract as
    :func:`html_outlinks` (first occurrence per resolved URL wins, so each
    outlink carries the anchor text of its first appearance).  Anchor text
    is the web's labeled-edge training signal: entity-decoded, stripped,
    possibly empty (image links)."""
    out: list[tuple[str, str]] = []
    seen: set[str] = set()
    collector = _collect_links(html)
    if respect_nofollow and collector.meta_nofollow:
        return out
    base = _effective_base(base_url, collector.base_href)
    for href, text, nofollow in collector.links:
        if respect_nofollow and nofollow:
            continue
        resolved = _resolve_href(href, base)
        if resolved is not None and resolved not in seen:
            seen.add(resolved)
            out.append((resolved, text))
    return out


def extract_links(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    respect_nofollow: bool = False,
) -> DataFrame:
    """``(url, outlink)`` edge list from a pages corpus.

    Arrow-batched ``mapInPandas`` applies :func:`html_outlinks` per page;
    the explode happens Spark-side on the already-deduped array, so the
    kernel ships one row per page and the operator needs no shuffle.
    ``respect_nofollow=True`` applies rel/meta nofollow link exclusion
    (see :func:`html_outlinks`).
    """
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            pages.schema[url_col],
            T.StructField("outlinks", T.ArrayType(T.StringType())),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield pd.DataFrame(
                {
                    url_col: batch[url_col],
                    "outlinks": [
                        html_outlinks(h, u, respect_nofollow)
                        for h, u in zip(batch[html_col], batch[url_col])
                    ],
                }
            )

    return pages.mapInPandas(kernel, schema).select(
        url_col, F.explode("outlinks").alias("outlink")
    )


def extract_anchors(
    pages: DataFrame, html_col: str = "html", url_col: str = "url",
    respect_nofollow: bool = False,
) -> DataFrame:
    """``(url, outlink, anchor)`` labeled edge list from a pages corpus —
    :func:`extract_links` plus the anchor text of each outlink's first
    occurrence.  Same shuffle-free Arrow shape: one kernel row per page,
    explode on the already-deduped array."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            pages.schema[url_col],
            T.StructField(
                "links",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("outlink", T.StringType()),
                            T.StructField("anchor", T.StringType()),
                        ]
                    )
                ),
            ),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield pd.DataFrame(
                {
                    url_col: batch[url_col],
                    "links": [
                        html_anchors(h, u, respect_nofollow)
                        for h, u in zip(batch[html_col], batch[url_col])
                    ],
                }
            )

    return (
        pages.mapInPandas(kernel, schema)
        .select(url_col, F.explode("links").alias("_l"))
        .select(url_col, F.col("_l.outlink").alias("outlink"),
                F.col("_l.anchor").alias("anchor"))
    )


_FEED_TYPES = {
    "application/rss+xml": "rss",
    "application/atom+xml": "atom",
}


class _FeedLinkCollector(HTMLParser):
    """Collects RSS/Atom autodiscovery ``<link>`` elements — the HTML-spec
    convention feed readers and crawlers use: ``<link rel="alternate"
    type="application/rss+xml|application/atom+xml" href=...>`` — plus the
    page's first ``<base href>`` (same resolution rule as anchors)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.feeds: list[tuple[str, str]] = []  # (href, kind)
        self.base_href: str | None = None

    def handle_starttag(self, tag, attrs) -> None:
        if tag == "link":
            d = {name: (value or "") for name, value in attrs}
            rel = re.split(r"[\s,]+", d.get("rel", "").lower())
            kind = _FEED_TYPES.get(d.get("type", "").split(";")[0].strip().lower())
            if "alternate" in rel and kind and d.get("href"):
                self.feeds.append((d["href"], kind))
        elif tag == "base" and self.base_href is None:
            for name, value in attrs:
                if name == "href" and value:
                    self.base_href = value
                    break

    def handle_startendtag(self, tag, attrs) -> None:
        self.handle_starttag(tag, attrs)


def html_feed_links(html: bytes | str | None, base_url: str) -> list[tuple[str, str]]:
    """``(feed_url, kind)`` pairs discovered in one page's ``<link>``
    elements (kind ∈ rss|atom), resolved against the page's effective base
    and first-occurrence deduped — sitemap discovery's sibling channel:
    feeds carry the freshest URLs of exactly the hosts whose sitemaps lag
    (the reference parses the feed FORMATS, usp/parser.py RSS/Atom classes;
    autodiscovery is how a crawler finds those documents from HTML)."""
    collector = _FeedLinkCollector()
    if html is not None:
        if isinstance(html, (bytes, bytearray, memoryview)):
            html = bytes(html).decode("utf-8", errors="replace")
        collector.feed(html)
        collector.close()
    out: list[tuple[str, str]] = []
    seen: set[str] = set()
    base = _effective_base(base_url, collector.base_href)
    for href, kind in collector.feeds:
        resolved = _resolve_href(href, base)
        if resolved is not None and resolved not in seen:
            seen.add(resolved)
            out.append((resolved, kind))
    return out


def extract_feed_links(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """``(url, feed_url, feed_kind)`` from a pages corpus — RSS/Atom
    autodiscovery over the ``html`` binary.  Same shuffle-free Arrow shape
    as :func:`extract_links`: one kernel row per page, explode on the
    already-deduped array; discovered feed URLs flow into the frontier's
    seen-set anti-join exactly like sitemap children."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            pages.schema[url_col],
            T.StructField(
                "feeds",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("feed_url", T.StringType()),
                            T.StructField("feed_kind", T.StringType()),
                        ]
                    )
                ),
            ),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield pd.DataFrame(
                {
                    url_col: batch[url_col],
                    "feeds": [
                        html_feed_links(h, u)
                        for h, u in zip(batch[html_col], batch[url_col])
                    ],
                }
            )

    return (
        pages.mapInPandas(kernel, schema)
        .select(url_col, F.explode("feeds").alias("_f"))
        .select(url_col, F.col("_f.feed_url").alias("feed_url"),
                F.col("_f.feed_kind").alias("feed_kind"))
    )


class _CanonicalCollector(HTMLParser):
    """Collects the page's FIRST ``<link rel=canonical href=...>`` (the
    rule search engines apply when a page declares several: later ones are
    ignored) plus the first ``<base href>`` for resolution. ``rel`` is a
    space/comma token list — ``rel="canonical alternate"`` still counts,
    ``rel="canonicalish"`` does not."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.canonical_href: str | None = None
        self.base_href: str | None = None

    def handle_starttag(self, tag, attrs) -> None:
        if tag == "link" and self.canonical_href is None:
            d = {name: (value or "") for name, value in attrs}
            rel = re.split(r"[\s,]+", d.get("rel", "").lower())
            if "canonical" in rel and d.get("href"):
                self.canonical_href = d["href"]
        elif tag == "base" and self.base_href is None:
            for name, value in attrs:
                if name == "href" and value:
                    self.base_href = value
                    break

    def handle_startendtag(self, tag, attrs) -> None:
        self.handle_starttag(tag, attrs)


def html_canonical(html: bytes | str | None, base_url: str) -> str | None:
    """The page's declared canonical URL (resolved against its effective
    base), or None when it declares none — the signal behind URL-level
    duplicate-cluster collapse in webtext pipelines: mirror/tracking/
    session-parameter variants of one document all point their
    ``rel=canonical`` at the same target, so collapsing on it removes
    duplicates *the publisher itself identified* before any content
    hashing runs."""
    collector = _CanonicalCollector()
    if html is not None:
        if isinstance(html, (bytes, bytearray, memoryview)):
            html = bytes(html).decode("utf-8", errors="replace")
        collector.feed(html)
        collector.close()
    if collector.canonical_href is None:
        return None
    return _resolve_href(
        collector.canonical_href, _effective_base(base_url, collector.base_href)
    )


def extract_canonical_links(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """``(url, canonical_url, is_self)`` per page from a pages corpus.

    ``canonical_url`` is NULL for pages declaring none (treat-as-self is
    the caller's policy decision, matching search-engine behavior);
    ``is_self`` marks pages whose declaration points at themselves. Same
    shuffle-free Arrow shape as :func:`extract_links` — one kernel row per
    page, no explode needed (at most one canonical per page)."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [pages.schema[url_col], T.StructField("canonical_url", T.StringType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield pd.DataFrame(
                {
                    url_col: batch[url_col],
                    "canonical_url": [
                        html_canonical(h, u)
                        for h, u in zip(batch[html_col], batch[url_col])
                    ],
                }
            )

    return pages.mapInPandas(kernel, schema).select(
        url_col,
        "canonical_url",
        (F.col("canonical_url") == F.col(url_col)).alias("is_self"),
    )


def host_link_graph(
    edges: DataFrame, src_col: str = "url", dst_col: str = "outlink"
) -> DataFrame:
    """Weighted host-level link graph from a page-level edge list:
    ``(src_host, dst_host, n_links)``, self-host edges dropped — the
    aggregation that turns :func:`extract_links` output into the input of
    ``host_pagerank`` domain-quality propagation.

    One partial-aggregated ``groupBy`` on two short host strings; at 10¹⁰
    edges the map-side combine collapses each partition to its distinct
    host pairs (bounded by hosts², not edges) before the exchange."""
    from frontier.urlnorm import host_expr

    return (
        edges.select(
            host_expr(src_col).alias("src_host"),
            host_expr(dst_col).alias("dst_host"),
        )
        .filter(
            F.col("src_host").isNotNull()
            & F.col("dst_host").isNotNull()
            & (F.col("src_host") != F.col("dst_host"))
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )


def expand_frontier(
    corpus: DataFrame,
    seeds: DataFrame,
    max_depth: int = 3,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Link-graph BFS over a fetched pages corpus: every URL reachable from
    the seed set within ``max_depth`` ``<a href>`` hops, tagged with its
    MINIMUM hop depth — the "grow the frontier beyond sitemaps" loop run
    against an already-captured corpus (recrawl planning, coverage audits,
    seed-set expansion).

    Shape: :func:`extract_links` materializes the edge list ONCE (the
    expensive HTML pass never re-runs — the edge frame is checkpointed up
    front, same rationale as ``connected_components``' ``sym``), then each
    hop is one equality join frontier×edges plus one anti-join against the
    visited set, all on compact URL strings — page bodies never move after
    the kernel pass.  The visited set is ``localCheckpoint``-ed per round:
    the growing union otherwise doubles the logical plan every hop (on a
    cluster prefer ``setCheckpointDir`` + ``.checkpoint()``).  Early-exits
    when a hop discovers nothing.  At 10¹⁰ URLs, keep the visited set in a
    :class:`frontier.dedup.UrlSeenSet` table and key edges on 64-bit
    hashes; rounds stay O(max_depth).

    Returns ``(url, depth)`` — BFS first-visit depth is the minimum depth.
    """
    edges = (
        extract_links(corpus, html_col=html_col, url_col=url_col)
        .select(F.col(url_col).alias("_src"), F.col("outlink").alias("_dst"))
        .localCheckpoint()
    )
    visited = (
        seeds.select(F.col(url_col).alias("url"))
        .distinct()
        .withColumn("depth", F.lit(0).cast("int"))
        .localCheckpoint()
    )
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(edges, frontier["url"] == edges["_src"])
            .select(F.col("_dst").alias("url"))
            .distinct()
            .join(visited, "url", "left_anti")
            .withColumn("depth", F.lit(depth).cast("int"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.union(nxt).localCheckpoint()
        frontier = nxt
    return visited


def seeds_from_pages(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Distinct homepage seeds from a pages corpus, as column expressions.

    Output: one ``seed`` string per distinct (scheme, host) —
    ``scheme://host/`` — ready for the ``seeds: DataFrame`` overload of
    ``sitemap_tree_for_homepages`` (D2 homepage normalization then runs on
    it like on any other seed frame).  The distinct is a partial-aggregated
    groupBy on a short string; the corpus rows themselves are never moved.
    """
    from frontier.urlnorm import _SCHEME_RE, host_expr

    scheme = F.lower(F.regexp_extract(F.col(url_col), _SCHEME_RE, 1))
    return (
        pages.select(scheme.alias("_s"), host_expr(url_col).alias("_h"))
        .filter((F.col("_s") != "") & F.col("_h").isNotNull())
        .select(F.concat("_s", F.lit("://"), "_h", F.lit("/")).alias("seed"))
        .distinct()
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """URL-level change classification between two crawl snapshots.

    Inputs are one-row-per-URL corpus snapshots (the output shape of
    :func:`latest_capture`).  Output: one row per URL present in either
    snapshot — ``(url, change, old_fp, new_fp)`` with ``change`` ∈
    {'added', 'removed', 'changed', 'unchanged'} and ``*_fp`` the md5 hex
    fingerprint of that side's text (NULL on the absent side).  This is
    the incremental-crawl primitive: 'changed' ∪ 'added' is next round's
    fetch list, 'removed' feeds tombstones.

    Scale shape: each side collapses map-side to ``(url, md5(text))``
    BEFORE the join, so page bodies never cross an exchange; the full
    outer join moves one 32-hex-char fingerprint per row, keyed by url.
    With both snapshots bucketed by url (the natural frontier-table
    layout) the join is co-located and needs no shuffle at all.
    """
    o = old.select(
        F.col(url_col).alias("url"), F.md5(F.col(text_col)).alias("old_fp")
    )
    n = new.select(
        F.col(url_col).alias("url"), F.md5(F.col(text_col)).alias("new_fp")
    )
    change = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return o.join(n, "url", "full_outer").select(
        "url", change.alias("change"), "old_fp", "new_fp"
    )


def mirror_hosts(
    pages: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    max_hosts_per_fp: int = 64,
) -> DataFrame:
    """Cross-host mirror detection: host pairs sharing identical content.

    Output: ``(host_a, host_b, n_shared)`` with ``host_a < host_b`` — the
    number of distinct content fingerprints (md5 of text) both hosts
    serve.  High-overlap pairs are mirror/CDN-alias candidates, the
    inter-site duplication that per-URL dedup never sees.

    Scale shape: text collapses map-side to 32-char fingerprints; a
    partial-agg distinct on ``(host, fp)``; then ``collect_set(host)``
    per fingerprint (NOT a fp⋈fp self-join — that is quadratic in a hot
    fingerprint's host count with no cap point).  The host set per
    fingerprint is capped at ``max_hosts_per_fp`` (deterministically:
    sorted, first k) so a boilerplate fingerprint served by 10⁶ hosts
    contributes a bounded pair fan-out instead of 10¹² rows; pairs are
    generated JVM-side with higher-order array functions (no UDF).
    """
    fps = pages.select(
        F.col(host_col).alias("host"), F.md5(F.col(text_col)).alias("fp")
    ).distinct()
    hosts = (
        fps.groupBy("fp")
        .agg(F.slice(F.sort_array(F.collect_set("host")), 1, max_hosts_per_fp)
             .alias("hosts"))
        .filter(F.size("hosts") >= 2)
    )
    pairs = hosts.select(
        F.explode(
            F.expr(
                "flatten(transform(hosts, (x, i) -> "
                "transform(slice(hosts, i + 2, size(hosts)), "
                "y -> struct(x AS host_a, y AS host_b))))"
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(F.col("p.host_a").alias("host_a"),
                      F.col("p.host_b").alias("host_b"))
        .agg(F.count("*").alias("n_shared"))
    )


def latest_capture(pages: DataFrame) -> DataFrame:
    """One row per URL: the capture with the newest ``warc_ts`` wins
    (ties broken by largest text, then lang, for determinism).

    Single ``groupBy(url)`` with ``max_by`` over a compact ordering struct —
    map-side partial aggregation keeps the shuffle at one record per
    (partition, url); the winning html/text payloads ride inside the
    aggregation buffer rather than through a join.
    """
    ordering = F.struct(
        F.col("warc_ts"), F.length("text").alias("_tlen"), F.col("lang")
    )
    return pages.groupBy("url").agg(
        F.max_by(F.struct("warc_ts", "html", "text", "lang"), ordering).alias("_w"),
        F.count("*").alias("n_captures"),
    ).select(
        "url",
        F.col("_w.warc_ts").alias("warc_ts"),
        F.col("_w.html").alias("html"),
        F.col("_w.text").alias("text"),
        F.col("_w.lang").alias("lang"),
        "n_captures",
    )


# --- charset sniffing + decoding (webtext ingest: the corpus is NOT all
# utf-8) ------------------------------------------------------------------------

# label normalization for the handful of aliases that dominate real crawls
_CHARSET_ALIASES = {
    "utf8": "utf-8",
    "utf-8": "utf-8",
    "latin-1": "iso-8859-1",
    "latin1": "iso-8859-1",
    "iso8859-1": "iso-8859-1",
    "iso-8859-1": "iso-8859-1",
    "cp1252": "windows-1252",
    "windows1252": "windows-1252",
    "windows-1252": "windows-1252",
    "us-ascii": "iso-8859-1",  # ascii is a latin-1 subset; same decode
}

_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]{0,512}?charset\s*=\s*["']?\s*([a-zA-Z0-9_.:\-]+)""",
    re.IGNORECASE,
)


def _normalize_charset(label: str) -> str | None:
    label = label.strip().strip("\"'").lower()
    if not label:
        return None
    norm = _CHARSET_ALIASES.get(label, label)
    try:
        codecs.lookup(norm)
    except LookupError:
        return None
    return norm


def sniff_charset(
    payload: bytes | None, content_type: str | None = None
) -> tuple[str, str]:
    """``(charset, source)`` for an HTML payload, WHATWG-encoding-sniff
    precedence: BOM beats the transport header beats an in-document
    ``<meta charset>`` (scanned in the first 1024 bytes, both the
    ``charset=`` attribute and the ``http-equiv`` content form) beats the
    utf-8 default.  ``source`` ∈ bom|header|meta|default is the audit
    column: at corpus scale the header/meta disagreement rate is a fetch
    pipeline health metric."""
    if payload:
        if payload[:3] == b"\xef\xbb\xbf":
            return "utf-8", "bom"
        if payload[:2] == b"\xff\xfe":
            return "utf-16-le", "bom"
        if payload[:2] == b"\xfe\xff":
            return "utf-16-be", "bom"
    if content_type and "charset=" in content_type.lower():
        label = content_type.lower().split("charset=", 1)[1].split(";")[0]
        norm = _normalize_charset(label)
        if norm:
            return norm, "header"
    if payload:
        m = _META_CHARSET_RE.search(payload[:1024])
        if m:
            norm = _normalize_charset(m.group(1).decode("latin-1"))
            if norm:
                return norm, "meta"
    return "utf-8", "default"


def decode_html_bytes(
    payload: bytes | None, content_type: str | None = None
) -> tuple[str, str, str]:
    """``(charset, source, text)``: sniff then decode, BOM stripped,
    undecodable bytes replaced (U+FFFD) — never raises."""
    charset, source = sniff_charset(payload, content_type)
    if payload is None:
        return charset, source, ""
    data = bytes(payload)
    try:
        if source == "bom":
            if charset == "utf-8":
                text = data.decode("utf-8-sig", errors="replace")
            else:
                # utf-16 codec consumes the BOM it finds
                text = data.decode("utf-16", errors="replace")
        else:
            text = data.decode(charset, errors="replace")
    except (LookupError, UnicodeError):
        text = data.decode("utf-8", errors="replace")
    return charset, source, text


def decode_pages(
    pages: DataFrame,
    html_col: str = "html",
    ctype_col: str | None = None,
    out_cols: tuple[str, str, str] = ("charset", "charset_source", "text"),
) -> DataFrame:
    """Adds ``(charset, charset_source, text)`` to a pages corpus by
    sniff-decoding the ``html`` binary — the ingest step between a WARC
    record walk and every downstream text operator.  Shuffle-free Arrow
    ``mapInPandas``; all input columns pass through unchanged."""
    import pyspark.sql.types as T

    schema = T.StructType(
        pages.schema.fields
        + [
            T.StructField(out_cols[0], T.StringType()),
            T.StructField(out_cols[1], T.StringType()),
            T.StructField(out_cols[2], T.StringType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ctypes = batch[ctype_col] if ctype_col else [None] * len(batch)
            decoded = [
                decode_html_bytes(h, c)
                for h, c in zip(batch[html_col], ctypes)
            ]
            out = batch.copy()
            out[out_cols[0]] = [d[0] for d in decoded]
            out[out_cols[1]] = [d[1] for d in decoded]
            out[out_cols[2]] = [d[2] for d in decoded]
            yield out

    return pages.mapInPandas(kernel, schema)


class _MetaRobotsCollector(HTMLParser):
    """Collects ``<meta name=robots|googlebot>`` directive tokens."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.tokens: set[str] = set()

    def handle_starttag(self, tag, attrs) -> None:
        if tag != "meta":
            return
        d = {name: (value or "") for name, value in attrs}
        if d.get("name", "").lower() in ("robots", "googlebot"):
            for tok in re.split(r"[\s,]+", d.get("content", "").lower()):
                if tok:
                    self.tokens.add(tok)

    def handle_startendtag(self, tag, attrs) -> None:
        self.handle_starttag(tag, attrs)


def html_noindex(html: bytes | str | None) -> bool:
    """True when the page's ``<meta name=robots|googlebot>`` directives
    include ``noindex`` (or ``none``, which implies it) — the in-document
    half of the robots exclusion protocol's indexing opt-out.  The
    transport half is the ``X-Robots-Tag`` header, captured per record by
    :func:`frontier.warc.warc_records`; a compliant corpus builder drops a
    page when EITHER says noindex.  Malformed markup never raises."""
    collector = _MetaRobotsCollector()
    if html is not None:
        if isinstance(html, (bytes, bytearray, memoryview)):
            html = bytes(html).decode("utf-8", errors="replace")
        collector.feed(html)
        collector.close()
    return "noindex" in collector.tokens or "none" in collector.tokens


def noindex_flags(
    pages: DataFrame,
    html_col: str = "html",
    x_robots_col: str | None = None,
    out_col: str = "noindex",
) -> DataFrame:
    """Adds a ``noindex`` boolean: meta-robots opt-out from the ``html``
    binary, OR'd with the ``X-Robots-Tag`` header column when given.
    Shuffle-free Arrow kernel, pass-through columns — the compliance gate
    a webtext pipeline applies right after ingest."""
    import pyspark.sql.types as T

    schema = T.StructType(
        pages.schema.fields + [T.StructField(out_col, T.BooleanType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            meta = [html_noindex(h) for h in batch[html_col]]
            if x_robots_col:
                hdr = [
                    bool(x) and "noindex" in str(x).lower()
                    for x in batch[x_robots_col]
                ]
                meta = [m or h for m, h in zip(meta, hdr)]
            out = batch.copy()
            out[out_col] = meta
            yield out

    return pages.mapInPandas(kernel, schema)
