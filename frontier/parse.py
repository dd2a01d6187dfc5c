"""Multi-format sitemap parse kernel (plain Python, JVM-free).

Turns one decoded sitemap payload into ``(kind, reason, children, pages)``,
reproducing the observable semantics of the reference parsers in
``/root/reference/usp/fetch_parse.py`` (cited per construct below) while being
an original event-driven implementation designed to run vectorized inside an
Arrow ``mapInPandas`` stage (see :mod:`frontier.udfs`).

Formats: robots.txt sitemap directives, XML ``<urlset>``, XML
``<sitemapindex>``, RSS 2.0, Atom 0.3/1.0, plain-text URL lists.

Fidelity notes (each is covered by a ported reference test):

- XML namespace canonicalization + missing-xmlns sticky recovery
  (fetch_parse.py:480-536).
- DOCTYPE/ENTITY hardening — billion-laughs rejected (fetch_parse.py:452-462).
- Truncated-XML tolerance — records parsed before the failure survive
  (fetch_parse.py:464-470).
- Per-document first-wins URL dedup; cross-document duplicates retained
  (fetch_parse.py:1004-1007, 1179-1182, 1331-1333).
- Field coercions: invalid changefreq → "always", priority outside [0,1] or
  non-decimal → 0.5, lastmod/news dates via ISO-8601 with dateutil fallback
  (fetch_parse.py:840-947).
"""

from __future__ import annotations

import re
import xml.parsers.expat
from dataclasses import dataclass, field
from decimal import Decimal, InvalidOperation
from typing import Any

from .textnorm import (
    html_unescape_strip,
    is_http_url,
    parse_iso8601_date,
    parse_rfc2822_date,
)

# --- node kinds (frontier.kind column domain) -------------------------------

KIND_WEBSITE = "website_index"
KIND_ROBOTS = "robots"
KIND_XML_INDEX = "xml_index"
KIND_XML_PAGES = "xml_pages"
KIND_RSS = "rss"
KIND_ATOM = "atom"
KIND_PLAIN_TEXT = "plain_text"
KIND_INVALID = "invalid"

PAGE_KINDS = frozenset({KIND_XML_PAGES, KIND_RSS, KIND_ATOM, KIND_PLAIN_TEXT})
INDEX_KINDS = frozenset({KIND_ROBOTS, KIND_XML_INDEX, KIND_WEBSITE})

DEFAULT_PRIORITY = Decimal("0.5")  # usp/objects/page.py:7
_PRIORITY_MIN = Decimal("0.0")
_PRIORITY_MAX = Decimal("1.0")  # fetch_parse.py:767-768

CHANGE_FREQUENCIES = frozenset(
    {"always", "hourly", "daily", "weekly", "monthly", "yearly", "never"}
)  # usp/objects/page.py:305-320

#: robots.txt sitemap directive, tolerant "Site-map" spelling
#: (fetch_parse.py:330-332).
ROBOTS_DIRECTIVE_RE = re.compile(r"^site-?map:\s*(.+?)$", re.IGNORECASE)

MAX_SITEMAP_BYTES = 100 * 1024 * 1024  # fetch_parse.py:64-67
MAX_RECURSION_LEVEL = 11  # fetch_parse.py:69

_NS_SEP = " "


class SitemapParseError(Exception):
    """Structural parse failure (reference SitemapXMLParsingException)."""


@dataclass
class ParsedDoc:
    """Outcome of parsing one payload."""

    kind: str
    reason: str | None = None
    children: list[str] = field(default_factory=list)
    pages: list[dict[str, Any]] = field(default_factory=list)


def _page_record(
    url: str,
    priority: Decimal = DEFAULT_PRIORITY,
    last_modified=None,
    change_frequency: str | None = None,
    news_story: dict[str, Any] | None = None,
    images: list[dict[str, Any]] | None = None,
    alternates: list[dict[str, str]] | None = None,
) -> dict[str, Any]:
    """Flat analogue of usp SitemapPage (usp/objects/page.py:323-477)."""
    return {
        "url": url,
        "priority": priority,
        "last_modified": last_modified,
        "change_frequency": change_frequency,
        "news_story": news_story,
        "images": images,
        "alternates": alternates,
    }


# --- format sniff ------------------------------------------------------------


def sniff_format(url: str, content: str) -> str:
    """'xml' | 'robots' | 'text' — content peek beats Content-Type
    (fetch_parse.py:181-213)."""
    if content[:20].strip().startswith("<"):
        return "xml"
    if url.endswith("/robots.txt"):
        return "robots"
    return "text"


# --- line-oriented formats ----------------------------------------------------


def parse_robots(url: str, content: str) -> ParsedDoc:
    """Extract ordered, first-wins-deduped sitemap URLs from robots.txt
    (fetch_parse.py:295-377)."""
    seen: dict[str, None] = {}
    for line in content.splitlines():
        m = ROBOTS_DIRECTIVE_RE.search(line.strip())
        if m and is_http_url(m.group(1)):
            seen.setdefault(m.group(1))
    return ParsedDoc(kind=KIND_ROBOTS, children=list(seen))


def parse_plain_text(url: str, content: str) -> ParsedDoc:
    """One valid URL per line → default-field pages, ordered first-wins dedup
    (fetch_parse.py:380-402)."""
    seen: dict[str, None] = {}
    for line in content.splitlines():
        line = line.strip()
        if line and is_http_url(line):
            seen.setdefault(line)
    return ParsedDoc(
        kind=KIND_PLAIN_TEXT, pages=[_page_record(u) for u in seen]
    )


# --- XML event collectors -----------------------------------------------------
#
# One collector per concrete format. The expat driver (`_parse_xml`) owns
# namespace canonicalization and char-data batching; collectors see
# canonical names only.


class _UrlsetCollector:
    """<urlset> pages sitemap (fetch_parse.py:771-1088)."""

    kind = KIND_XML_PAGES

    # element -> raw-field key for simple per-<url> scalar captures
    _URL_FIELDS = {
        "sitemap:lastmod": "lastmod",
        "sitemap:changefreq": "changefreq",
        "sitemap:priority": "priority",
        "news:name": "news_publication_name",
        "news:language": "news_publication_language",
        "news:publication_date": "news_publish_date",
        "news:access": "news_access",
        "news:genres": "news_genres",
        "news:keywords": "news_keywords",
        "news:stock_tickers": "news_stock_tickers",
    }
    _IMAGE_FIELDS = {
        "image:caption": "caption",
        "image:geo_location": "geo_location",
        "image:title": "title",
        "image:license": "license",
    }

    def __init__(self) -> None:
        self._entries: list[dict] = []
        self._urls_seen: set = set()
        self._cur: dict | None = None
        self._cur_image: dict | None = None

    def on_start(self, name: str, attrs: dict) -> None:
        if name == "sitemap:url":
            if self._cur is not None:
                raise SitemapParseError("nested <url> entries")
            self._cur = {"images": [], "alternates": []}
        elif name == "image:image":
            if self._cur_image is not None:
                raise SitemapParseError("nested <image:image> entries")
            if self._cur is None:
                raise SitemapParseError("<image:image> outside <url>")
            self._cur_image = {}
        elif name == "link":
            # xhtml alternate links; attrs validated (fetch_parse.py:978-990)
            if self._cur is None:
                raise SitemapParseError("<link> outside <url>")
            if (
                attrs.get("rel") == "alternate"
                and "hreflang" in attrs
                and "href" in attrs
            ):
                self._cur["alternates"].append(
                    {"hreflang": attrs["hreflang"], "href": attrs["href"]}
                )

    def on_end(self, name: str, text: str) -> None:
        if self._cur is None and name != "sitemap:urlset":
            # matches the strictness at fetch_parse.py:999-1002: stray
            # element ends abort the remainder of the document
            raise SitemapParseError(f"element </{name}> outside <url>")
        if name == "sitemap:url":
            url = self._cur.get("loc")
            if url not in self._urls_seen:  # first-wins (fetch_parse.py:1004-1007)
                self._urls_seen.add(url)
                self._entries.append(self._cur)
            self._cur = None
        elif name == "image:image":
            self._cur["images"].append(self._cur_image or {})
            self._cur_image = None
        elif name == "sitemap:loc":
            if not text:  # <loc> is mandatory per entry (fetch_parse.py:1013-1016)
                raise SitemapParseError("empty <loc>")
            self._cur["loc"] = text
        elif name == "news:title":
            if not text:  # mandatory for news entries (fetch_parse.py:1042-1045)
                raise SitemapParseError("empty <news:title>")
            self._cur["news_title"] = text
        elif name == "image:loc":
            if not text:  # mandatory per image (fetch_parse.py:1059-1062)
                raise SitemapParseError("empty <image:loc>")
            self._cur_image["loc"] = text
        elif name in self._URL_FIELDS:
            self._cur[self._URL_FIELDS[name]] = text
        elif name in self._IMAGE_FIELDS:
            self._cur_image[self._IMAGE_FIELDS[name]] = text

    def result(self, url: str) -> ParsedDoc:
        pages = []
        for raw in self._entries:
            page = _finish_xml_page(raw)
            if page is not None:
                pages.append(page)
        return ParsedDoc(kind=self.kind, pages=pages)


def _comma_list(value: str | None) -> list[str]:
    """Comma-split + strip news list fields (fetch_parse.py:891-907)."""
    value = html_unescape_strip(value)
    return [part.strip() for part in value.split(",")] if value else []


def _finish_xml_page(raw: dict) -> dict | None:
    """Normalize one accumulated <url> entry (fetch_parse.py:840-947)."""
    url = html_unescape_strip(raw.get("loc"))
    if not url:
        return None

    last_modified = html_unescape_strip(raw.get("lastmod"))
    if last_modified:
        last_modified = parse_iso8601_date(last_modified)
    else:
        last_modified = None

    changefreq = html_unescape_strip(raw.get("changefreq"))
    if changefreq:
        changefreq = changefreq.lower()
        if changefreq not in CHANGE_FREQUENCIES:
            changefreq = "always"  # invalid coerces (fetch_parse.py:856-862)
    else:
        changefreq = None

    priority_text = html_unescape_strip(raw.get("priority"))
    priority = DEFAULT_PRIORITY
    if priority_text:
        try:
            candidate = Decimal(priority_text)
            if _PRIORITY_MIN <= candidate <= _PRIORITY_MAX:
                priority = candidate  # else out-of-range → default
        except InvalidOperation:
            pass  # malformed → default (fetch_parse.py:873-875)

    title = html_unescape_strip(raw.get("news_title"))
    publish_date = html_unescape_strip(raw.get("news_publish_date"))
    if publish_date:
        publish_date = parse_iso8601_date(publish_date)
    news_story = None
    if title and publish_date:  # both required (fetch_parse.py:909-920)
        news_story = {
            "title": title,
            "publish_date": publish_date,
            "publication_name": html_unescape_strip(raw.get("news_publication_name")),
            "publication_language": html_unescape_strip(
                raw.get("news_publication_language")
            ),
            "access": html_unescape_strip(raw.get("news_access")),
            "genres": _comma_list(raw.get("news_genres")),
            "keywords": _comma_list(raw.get("news_keywords")),
            "stock_tickers": _comma_list(raw.get("news_stock_tickers")),
        }

    images = [
        {
            "loc": img.get("loc"),
            "caption": img.get("caption"),
            "geo_location": img.get("geo_location"),
            "title": img.get("title"),
            "license": img.get("license"),
        }
        for img in raw["images"]
    ] or None  # empty → null (fetch_parse.py:922-933)

    alternates = raw["alternates"] or None  # empty → null (fetch_parse.py:935-937)

    return _page_record(
        url=url,
        priority=priority,
        last_modified=last_modified,
        change_frequency=changefreq,
        news_story=news_story,
        images=images,
        alternates=alternates,
    )


class _SitemapIndexCollector:
    """<sitemapindex> → ordered child sitemap URLs (fetch_parse.py:679-764)."""

    kind = KIND_XML_INDEX

    def __init__(self) -> None:
        self._children: list[str] = []

    def on_start(self, name: str, attrs: dict) -> None:
        pass

    def on_end(self, name: str, text: str) -> None:
        if name == "sitemap:loc":
            child = html_unescape_strip(text)
            if is_http_url(child) and child not in self._children:
                self._children.append(child)

    def result(self, url: str) -> ParsedDoc:
        return ParsedDoc(kind=self.kind, children=list(self._children))


class _FeedCollectorBase:
    """Shared RSS/Atom entry accumulation + finishing (fetch_parse.py:1098-1149,
    1233-1282): link required, title-or-description required, title preferred,
    per-feed first-wins link dedup."""

    kind = KIND_RSS
    date_parser = staticmethod(parse_rfc2822_date)

    def __init__(self) -> None:
        self._entries: list[dict] = []
        self._links_seen: set = set()
        self._cur: dict | None = None

    def _close_entry(self) -> None:
        link = self._cur.get("link")
        if link not in self._links_seen:
            self._links_seen.add(link)
            self._entries.append(self._cur)
        self._cur = None

    def result(self, url: str) -> ParsedDoc:
        pages = []
        for raw in self._entries:
            link = html_unescape_strip(raw.get("link"))
            if not link:
                continue
            title = html_unescape_strip(raw.get("title"))
            description = html_unescape_strip(raw.get("description"))
            if not (title or description):
                continue
            pub = html_unescape_strip(raw.get("pubdate"))
            if pub:
                pub = self.date_parser(pub)
            # NOT coerced to None when falsy: a set-but-empty date survives
            # as "" in the reference (fetch_parse.py:1139-1141, 1270-1272 —
            # html_unescape_strip passes falsy input through); the Arrow
            # boundary maps any falsy date to a NULL timestamp (udfs.py
            # _utc_and_offset)
            pages.append(
                _page_record(
                    url=link,
                    news_story={
                        "title": title or description,
                        "publish_date": pub,
                        "publication_name": None,
                        "publication_language": None,
                        "access": None,
                        "genres": [],
                        "keywords": [],
                        "stock_tickers": [],
                    },
                )
            )
        return ParsedDoc(kind=self.kind, pages=pages)


class _RssCollector(_FeedCollectorBase):
    """RSS 2.0 <item> extraction (fetch_parse.py:1091-1217)."""

    kind = KIND_RSS
    date_parser = staticmethod(parse_rfc2822_date)

    def on_start(self, name: str, attrs: dict) -> None:
        if name == "item":
            if self._cur is not None:
                raise SitemapParseError("nested <item> entries")
            self._cur = {}

    def on_end(self, name: str, text: str) -> None:
        if self._cur is None:
            return
        if name == "item":
            self._close_entry()
        elif name in ("link", "title", "description"):
            if not text:  # set-but-empty is structural (fetch_parse.py:1186-1199)
                raise SitemapParseError(f"empty <{name}>")
            self._cur[name] = text
        elif name == "pubDate":
            self._cur["pubdate"] = text


class _AtomCollector(_FeedCollectorBase):
    """Atom 0.3 / 1.0 <entry> extraction (fetch_parse.py:1220-1357):
    link = href of rel="self" (missing rel counts as self) else first link;
    date precedence issued/published over updated."""

    kind = KIND_ATOM
    date_parser = staticmethod(parse_iso8601_date)

    def __init__(self) -> None:
        super().__init__()
        self._pending_href: str | None = None

    def on_start(self, name: str, attrs: dict) -> None:
        if name == "entry":
            if self._cur is not None:
                raise SitemapParseError("nested <entry> entries")
            self._cur = {}
        elif name == "link" and self._cur is not None:
            if attrs.get("rel", "self").lower() == "self" or self._pending_href is None:
                self._pending_href = attrs.get("href")

    def on_end(self, name: str, text: str) -> None:
        if self._cur is None:
            return
        if name == "entry":
            if self._pending_href:  # entries with no usable link are dropped
                self._cur["link"] = self._pending_href
                self._pending_href = None
                self._close_entry()
            else:
                self._cur = None
        elif name == "title":
            if not text:
                raise SitemapParseError("empty <title>")
            self._cur["title"] = text
        elif name in ("tagline", "summary"):  # 0.3 / 1.0 descriptions
            if not text:
                raise SitemapParseError(f"empty <{name}>")
            self._cur["description"] = text
        elif name in ("issued", "published"):
            self._cur["pubdate"] = text
        elif name == "updated":
            if not self._cur.get("pubdate"):
                self._cur["pubdate"] = text


_ROOT_COLLECTORS = {
    "sitemap:urlset": _UrlsetCollector,
    "sitemap:sitemapindex": _SitemapIndexCollector,
    "rss": _RssCollector,
    "feed": _AtomCollector,
}


class _ExpatDriver:
    """Owns the expat parser: namespace canonicalization, sticky missing-xmlns
    recovery, char-data batching, hardening, root dispatch
    (fetch_parse.py:405-590)."""

    def __init__(self, url: str) -> None:
        self._url = url
        self.collector = None
        self._assume_sitemap_ns = False
        self._text = ""
        self._text_open = False
        # canonicalization cache: a document has a handful of distinct
        # qnames but millions of elements — the per-event string work in
        # _canon_compute was ~25% of kernel CPU before memoization
        self._canon_cache: dict = {}

    # -- namespace canonicalization (fetch_parse.py:480-536) --

    def _canon(self, raw_name: str) -> str:
        name = self._canon_cache.get(raw_name)
        if name is None:
            name = self._canon_compute(raw_name)
            self._canon_cache[raw_name] = name
        return name

    def _canon_compute(self, raw_name: str) -> str:
        ns, _, local = raw_name.rpartition(_NS_SEP)
        if raw_name.count(_NS_SEP) > 1:
            raise SitemapParseError(f"ambiguous namespace in {raw_name!r}")
        if "/sitemap/" in ns:
            return f"sitemap:{local}"
        if "/sitemap-news/" in ns:
            return f"news:{local}"
        if "/sitemap-image/" in ns:
            return f"image:{local}"
        if "/sitemap-video/" in ns:
            return f"video:{local}"
        if local in ("urlset", "sitemapindex"):
            # root without the expected xmlns → recover, and treat every
            # later unmatched tag as sitemap-namespaced; cached plain-name
            # canonicalizations predate the flip, so drop them
            self._assume_sitemap_ns = True
            self._canon_cache.clear()
            return f"sitemap:{local}"
        if self._assume_sitemap_ns:
            return f"sitemap:{local}"
        return local

    # -- expat callbacks --

    def _flush_text(self) -> str:
        text = self._text
        self._text = ""
        self._text_open = False
        return text

    def _on_start(self, raw_name: str, attrs: dict) -> None:
        name = self._canon(raw_name)
        self._text_open = False
        if self.collector is None:
            factory = _ROOT_COLLECTORS.get(name)
            if factory is None:
                raise SitemapParseError(f"Unsupported root element '{name}'.")
            self.collector = factory()
        else:
            self.collector.on_start(name, attrs)

    def _on_end(self, raw_name: str) -> None:
        name = self._canon(raw_name)
        text = self._text  # inlined _flush_text (hot path)
        self._text = ""
        self._text_open = False
        if self.collector is None:
            raise SitemapParseError("element end before any root element")
        self.collector.on_end(name, text)

    def _on_chardata(self, data: str) -> None:
        # consecutive chunks concatenate; any element boundary resets
        # (fetch_parse.py:650-667)
        if self._text_open:
            self._text += data
        else:
            self._text = data
        self._text_open = True

    def _on_forbidden(self, *args: object) -> None:
        raise SitemapParseError(
            "document contains DOCTYPE/ENTITY declarations; refusing to parse"
        )  # hardening (fetch_parse.py:452-462)

    def run(self, content: str) -> None:
        parser = xml.parsers.expat.ParserCreate(namespace_separator=_NS_SEP)
        parser.StartElementHandler = self._on_start
        parser.EndElementHandler = self._on_end
        parser.CharacterDataHandler = self._on_chardata
        parser.StartDoctypeDeclHandler = self._on_forbidden
        parser.EntityDeclHandler = self._on_forbidden
        parser.SetParamEntityParsing(xml.parsers.expat.XML_PARAM_ENTITY_PARSING_NEVER)
        parser.Parse(content, True)


def parse_xml(url: str, content: str) -> ParsedDoc:
    """Dispatch + parse an XML payload; tolerate truncation by keeping whatever
    was extracted before the failure (fetch_parse.py:444-478)."""
    driver = _ExpatDriver(url)
    try:
        driver.run(content)
    except Exception:
        # truncated / hardened / malformed: fall through with partial state
        pass
    if driver.collector is None:
        return ParsedDoc(
            kind=KIND_INVALID, reason=f"No parsers support sitemap from {url}"
        )
    return driver.collector.result(url)


def parse_sitemap_text(url: str, content: str) -> ParsedDoc:
    """Top-level single-document entry: sniff then parse."""
    fmt = sniff_format(url, content)
    if fmt == "xml":
        return parse_xml(url, content)
    if fmt == "robots":
        return parse_robots(url, content)
    return parse_plain_text(url, content)
