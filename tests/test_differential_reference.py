"""Differential tests: our parse kernel vs the ACTUAL reference parser.

The north-rule correctness gate is "byte-identical extracted text per url
versus the reference parser" (BASELINE.json input_hint). These tests import
the reference package read-only from /root/reference and run the SAME payload
through usp's ``sitemap_from_str`` (usp/tree.py:133-142) and our
``frontier.parse.parse_sitemap_text``, then compare every extracted field —
no goldens to go stale, the reference itself is the oracle.

Pure-Python (no JVM): exercises the kernel that the Arrow UDF wraps.
"""

from __future__ import annotations

import importlib.metadata as _md
import sys

import pytest
from hypothesis import given, settings, strategies as st

from frontier import parse as K

# --- import the reference (its __init__ needs package metadata) --------------
_orig_version = _md.version


def _stub_version(name: str) -> str:
    if "sitemap" in name:
        return "1.8.1"
    return _orig_version(name)


# patch is scoped to the reference import only and ALWAYS restored —
# leaving it installed would fabricate versions for any 'sitemap'
# distribution other tests resolve in the same session
_md.version = _stub_version
try:
    if "/root/reference" not in sys.path:
        sys.path.insert(0, "/root/reference")
    usp_tree = pytest.importorskip("usp.tree")
finally:
    _md.version = _orig_version
from usp.objects.sitemap import (  # noqa: E402
    AbstractIndexSitemap,
    AbstractPagesSitemap,
    InvalidSitemap,
    PagesAtomSitemap,
    PagesRSSSitemap,
    PagesTextSitemap,
    PagesXMLSitemap,
)

_KIND_BY_CLASS = {
    PagesXMLSitemap: K.KIND_XML_PAGES,
    PagesRSSSitemap: K.KIND_RSS,
    PagesAtomSitemap: K.KIND_ATOM,
    PagesTextSitemap: K.KIND_PLAIN_TEXT,
}


def _norm_empty(value):
    """Known reference quirk (fetch_parse.py:849-863): an empty
    ``<lastmod/>`` / ``<changefreq/>`` leaks the empty STRING into the typed
    field (``if last_modified:`` skips parsing but keeps ``''``). Our typed
    schema (TimestampType) canonicalizes absent == empty == NULL — the one
    intentional deviation, normalized here so everything else stays strict."""
    return None if value == "" else value


def _ref_parse(content: str):
    """Reference sitemap_from_str → (kind, children, page dicts)."""
    tree = usp_tree.sitemap_from_str(content)
    if isinstance(tree, InvalidSitemap):
        return K.KIND_INVALID, [], []
    kind = _KIND_BY_CLASS.get(type(tree))
    if isinstance(tree, AbstractPagesSitemap):
        pages = []
        for p in tree.pages:
            story = p.news_story
            pages.append(
                {
                    "url": p.url,
                    "priority": p.priority,
                    "last_modified": _norm_empty(p.last_modified),
                    "change_frequency": (
                        p.change_frequency.value if p.change_frequency else None
                    ),
                    "news_story": None
                    if story is None
                    else {
                        "title": story.title,
                        "publish_date": story.publish_date,
                        "publication_name": story.publication_name,
                        "publication_language": story.publication_language,
                        "access": story.access,
                        "genres": story.genres,
                        "keywords": story.keywords,
                        "stock_tickers": story.stock_tickers,
                    },
                    "images": None
                    if p.images is None
                    else [
                        {
                            "loc": i.loc,
                            "caption": i.caption,
                            "geo_location": i.geo_location,
                            "title": i.title,
                            "license": i.license,
                        }
                        for i in p.images
                    ],
                    "alternates": None
                    if p.alternates is None
                    else [{"hreflang": a[0], "href": a[1]} for a in p.alternates],
                }
            )
        return kind, [], pages
    if isinstance(tree, AbstractIndexSitemap):
        # from_str mode: children surface as InvalidSitemap("Un-fetched ...")
        return (
            K.KIND_XML_INDEX,
            [child.url for child in tree.sub_sitemaps],
            [],
        )
    return K.KIND_INVALID, [], []


def _ours_parse(content: str):
    doc = K.parse_sitemap_text("http://usp-local-dummy.local/", content)
    pages = [dict(p) for p in doc.pages]
    return doc.kind, list(doc.children), pages


def assert_same(content: str) -> None:
    ref_kind, ref_children, ref_pages = _ref_parse(content)
    our_kind, our_children, our_pages = _ours_parse(content)
    if ref_kind == K.KIND_INVALID:
        assert our_kind == K.KIND_INVALID, f"ref invalid, ours {our_kind}"
        return
    assert our_kind == ref_kind
    assert our_children == ref_children
    assert len(our_pages) == len(ref_pages), (
        f"page count {len(our_pages)} != ref {len(ref_pages)}"
    )
    for ours, ref in zip(our_pages, ref_pages):
        assert ours == ref


BASE = "http://differential.example.com"

CORPUS = [
    # plain urlset, full scalar fields
    f"""<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>{BASE}/a.html</loc><lastmod>2009-12-17T12:04:56+02:00</lastmod>
    <changefreq>monthly</changefreq><priority>0.8</priority></url>
  <url><loc>{BASE}/b.html</loc><changefreq>BOGUS</changefreq>
    <priority>1.1</priority></url>
  <url><loc>{BASE}/a.html</loc><priority>0.1</priority></url>
</urlset>""",
    # news extension, comma lists, entities, CDATA
    f"""<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"
        xmlns:news="http://www.google.com/schemas/sitemap-news/0.9">
  <url><loc>{BASE}/news.html</loc>
    <news:news>
      <news:publication>
        <news:name>Ex&amp;ample</news:name>
        <news:language>en</news:language>
      </news:publication>
      <news:publication_date>2024-01-02T03:04:05+00:00</news:publication_date>
      <news:title><![CDATA[Hello <world>]]></news:title>
      <news:keywords>a, b ,c</news:keywords>
      <news:stock_tickers>NASDAQ:X, NYSE:Y</news:stock_tickers>
    </news:news>
  </url>
</urlset>""",
    # news without publish_date → story dropped
    f"""<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"
        xmlns:news="http://www.google.com/schemas/sitemap-news/0.9">
  <url><loc>{BASE}/t.html</loc>
    <news:news><news:title>No date</news:title></news:news></url>
</urlset>""",
    # image extension
    f"""<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"
        xmlns:image="http://www.google.com/schemas/sitemap-image/1.1">
  <url><loc>{BASE}/i.html</loc>
    <image:image><image:loc>{BASE}/p.jpg</image:loc>
      <image:caption>cap</image:caption><image:title>t</image:title>
      <image:license>{BASE}/l</image:license>
      <image:geo_location>Limerick, Ireland</image:geo_location>
    </image:image>
    <image:image><image:loc>{BASE}/q.jpg</image:loc></image:image>
  </url>
</urlset>""",
    # hreflang alternates incl. missing-attr links
    f"""<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"
        xmlns:xhtml="http://www.w3.org/1999/xhtml">
  <url><loc>{BASE}/x.html</loc>
    <xhtml:link rel="alternate" hreflang="fr-FR" href="{BASE}/fr"/>
    <xhtml:link rel="alternate" href="{BASE}/nolang"/>
    <xhtml:link rel="canonical" hreflang="de" href="{BASE}/de"/>
  </url>
</urlset>""",
    # sitemap index (children become un-fetched invalids in from_str mode)
    f"""<?xml version="1.0"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>{BASE}/s1.xml</loc></sitemap>
  <sitemap><loc>{BASE}/s2.xml</loc><lastmod>2020-01-01</lastmod></sitemap>
  <sitemap><loc>{BASE}/s1.xml</loc></sitemap>
  <sitemap><loc>not a url</loc></sitemap>
</sitemapindex>""",
    # missing xmlns recovery (tests/tree/test_edges.py:237-323)
    f"""<?xml version="1.0" encoding="UTF-8"?>
<urlset>
  <url><loc>{BASE}/nons.html</loc><priority>0.4</priority></url>
</urlset>""",
    # truncated XML: partial pages survive, trailing incomplete <url> dropped
    f"""<?xml version="1.0"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>{BASE}/ok.html</loc></url>
  <url><loc>{BASE}/half.html""",
    # RSS 2.0
    f"""<?xml version="1.0" encoding="UTF-8"?>
<rss version="2.0"><channel>
  <title>Chan</title><link>{BASE}</link>
  <item><title>First</title><link>{BASE}/r1</link>
    <pubDate>Thu, 17 Dec 2009 12:04:56 +0200</pubDate></item>
  <item><description>only desc</description><link>{BASE}/r2</link></item>
  <item><title>No link at all</title></item>
</channel></rss>""",
    # Atom 1.0, rel=self preference + entry without link dropped
    f"""<?xml version="1.0" encoding="UTF-8"?>
<feed xmlns="http://www.w3.org/2005/Atom">
  <title>F</title>
  <entry><title>E1</title>
    <link href="{BASE}/alt1"/><link rel="self" href="{BASE}/self1"/>
    <published>2018-12-25T12:34:56+00:00</published>
    <updated>2019-01-01T00:00:00+00:00</updated></entry>
  <entry><title>E2</title><updated>2019-06-01T00:00:00Z</updated>
    <link href="{BASE}/alt2"/></entry>
  <entry><title>No link</title></entry>
</feed>""",
    # Atom 0.3 with issued + tagline
    f"""<?xml version="1.0" encoding="utf-8"?>
<feed version="0.3" xmlns="http://purl.org/atom/ns#">
  <title>F03</title>
  <entry><title>Old</title><link rel="alternate" type="text/html"
      href="{BASE}/a03"/>
    <issued>2003-12-13T08:29:29-04:00</issued>
    <modified>2003-12-13T18:30:02Z</modified></entry>
</feed>""",
    # plain text with junk lines + dupes
    f"{BASE}/p1.html\nnot a url\n\n{BASE}/p2.html\n{BASE}/p1.html\n",
    # billion laughs → invalid
    """<?xml version="1.0"?>
<!DOCTYPE lolz [<!ENTITY lol "lol"><!ENTITY lol2 "&lol;&lol;">]>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>http://x.com/&lol2;</loc></url></urlset>""",
    # unsupported root element
    "<html><body>hi</body></html>",
    # empty / whitespace
    "",
    "   \n  ",
    # UTF-8 content with entities in loc
    f"""<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>{BASE}/b&#x105;&#x17E;.html</loc></url>
</urlset>""",
]


@pytest.mark.parametrize("idx", range(len(CORPUS)))
def test_corpus_differential(idx):
    assert_same(CORPUS[idx])


# --- hypothesis fuzz: generated urlset documents -----------------------------

_url_text = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="<&\x00\r", categories=("L", "N", "P", "S")
    ),
    min_size=0,
    max_size=30,
)
_scalar = st.one_of(
    st.none(),
    st.sampled_from(
        [
            "2009-12-17T12:04:56+02:00",
            "2020-02-30",
            "monthly",
            "NEVER",
            "bogus",
            "0.8",
            "1.1",
            "-3",
            "0.55",
            "not-a-number",
            "  0.3  ",
        ]
    ),
    _url_text,
)


@st.composite
def _urlset_doc(draw):
    n = draw(st.integers(min_value=0, max_value=5))
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>\n',
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">',
    ]
    for i in range(n):
        loc = draw(st.one_of(st.just(f"{BASE}/u{i}.html"), _url_text))
        parts.append(f"<url><loc>{loc}</loc>")
        for tag in ("lastmod", "changefreq", "priority"):
            val = draw(_scalar)
            if val is not None:
                parts.append(f"<{tag}>{val}</{tag}>")
        parts.append("</url>")
    parts.append("</urlset>")
    doc = "".join(parts)
    # sometimes truncate mid-document (P6 recovery path)
    if draw(st.booleans()):
        cut = draw(st.integers(min_value=len(parts[0]), max_value=len(doc)))
        doc = doc[:cut]
    return doc


@settings(max_examples=150, deadline=None)
@given(_urlset_doc())
def test_fuzz_urlset_differential(doc):
    assert_same(doc)


_rfc2822_pool = st.sampled_from(
    [
        "Thu, 17 Dec 2009 12:04:56 GMT",
        "Thu, 17 Dec 2009 12:04:56 +0200",
        "17 Dec 2009 12:04:56",
        "not a date",
        "",
    ]
)


@st.composite
def _rss_doc(draw):
    n = draw(st.integers(min_value=0, max_value=4))
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>\n',
        "<rss version=\"2.0\"><channel><title>T</title>"
        f"<link>{BASE}/</link>",
    ]
    for i in range(n):
        parts.append("<item>")
        if draw(st.booleans()):
            link = draw(st.one_of(st.just(f"{BASE}/i{i}.html"), _url_text))
            parts.append(f"<link>{link}</link>")
        if draw(st.booleans()):
            parts.append(f"<title>{draw(_url_text)}</title>")
        if draw(st.booleans()):
            parts.append(f"<pubDate>{draw(_rfc2822_pool)}</pubDate>")
        parts.append("</item>")
    parts.append("</channel></rss>")
    doc = "".join(parts)
    if draw(st.booleans()):
        cut = draw(st.integers(min_value=len(parts[0]), max_value=len(doc)))
        doc = doc[:cut]
    return doc


@settings(max_examples=100, deadline=None)
@given(_rss_doc())
def test_fuzz_rss_differential(doc):
    """P11 RSS 2.0 extraction vs the reference parser, incl. truncation."""
    assert_same(doc)


@st.composite
def _atom_doc(draw):
    n = draw(st.integers(min_value=0, max_value=4))
    ns = draw(st.sampled_from(["http://www.w3.org/2005/Atom", ""]))
    xmlns = f' xmlns="{ns}"' if ns else ""
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>\n',
        f"<feed{xmlns}><title>T</title>",
    ]
    for i in range(n):
        parts.append("<entry>")
        # link precedence: rel=alternate > no-rel > (rel=self ignored)
        for rel in draw(
            st.lists(
                st.sampled_from(["alternate", "self", None]),
                max_size=3,
            )
        ):
            href = draw(st.one_of(st.just(f"{BASE}/e{i}.html"), _url_text))
            rel_attr = f' rel="{rel}"' if rel else ""
            parts.append(f'<link{rel_attr} href="{href}"/>')
        if draw(st.booleans()):
            parts.append(f"<title>{draw(_url_text)}</title>")
        if draw(st.booleans()):
            parts.append(f"<published>{draw(_scalar) or ''}</published>")
        if draw(st.booleans()):
            parts.append(f"<updated>{draw(_scalar) or ''}</updated>")
        parts.append("</entry>")
    parts.append("</feed>")
    doc = "".join(parts)
    if draw(st.booleans()):
        cut = draw(st.integers(min_value=len(parts[0]), max_value=len(doc)))
        doc = doc[:cut]
    return doc


@settings(max_examples=100, deadline=None)
@given(_atom_doc())
def test_fuzz_atom_differential(doc):
    """P12 Atom extraction vs the reference parser: link-rel precedence,
    0.3/1.0 namespace presence, truncation recovery."""
    assert_same(doc)


_robots_line = st.one_of(
    st.builds(lambda u: f"Sitemap: {u}", st.one_of(st.just(f"{BASE}/s.xml"), _url_text)),
    st.builds(lambda u: f"sitemap:{u}", _url_text),
    st.builds(lambda u: f"SiTeMaP :  {u} ", _url_text),
    st.just("User-agent: *"),
    st.just("Disallow: /private"),
    st.just(""),
    st.builds(lambda t: f"# {t}", _url_text),
    _url_text,
)


@settings(max_examples=100, deadline=None)
@given(st.lists(_robots_line, max_size=8), st.booleans())
def test_fuzz_robots_differential(lines, bom):
    """P2 robots.txt Sitemap: directive extraction vs the reference —
    case-insensitive directive, whitespace, comments, junk lines."""
    doc = "\r\n".join(lines)
    if bom:
        doc = "﻿" + doc
    assert_same(doc)


_plain_line = st.one_of(
    st.just(f"{BASE}/page.html"),
    st.just(f" {BASE}/padded.html "),
    st.just("ftp://not-http.example.com/x"),
    st.just("no scheme at all"),
    _url_text,
    st.just(""),
)


@settings(max_examples=100, deadline=None)
@given(st.lists(_plain_line, max_size=8))
def test_fuzz_plaintext_differential(lines):
    """P3 plain-text sitemap extraction vs the reference — URL-per-line
    with validation, padding, non-HTTP schemes, junk."""
    assert_same("\n".join(lines))


@settings(max_examples=75, deadline=None)
@given(
    st.text(
        alphabet=st.sampled_from(list("<>/&;ulrsetocba mp:.\"'=\n\t0129-+TZ")),
        max_size=400,
    )
)
def test_fuzz_garbage_differential(doc):
    """Arbitrary tag-soup: both parsers must agree (usually both invalid)."""
    assert_same(doc)


# --- decode path: gzip sniff + gunzip-with-fallback + utf-8-sig --------------

from usp.helpers import ungzipped_response_content  # noqa: E402

from frontier.textnorm import decode_sitemap_body  # noqa: E402


class _FakeResponse:
    """Minimal stand-in for AbstractWebClientSuccessResponse."""

    def __init__(self, data: bytes, content_type: str | None) -> None:
        self._data = data
        self._ct = content_type

    def raw_data(self) -> bytes:
        return self._data

    def header(self, name: str):
        if name.lower() == "content-type":
            return self._ct
        return None


@settings(max_examples=100, deadline=None)
@given(
    body=st.binary(max_size=200),
    gzip_it=st.booleans(),
    url_suffix=st.sampled_from(
        ["/s.xml", "/s.xml.gz", "/s.XML.GZ", "/s%2Exml%2Egz", "/a+b.gz", "/s"]
    ),
    content_type=st.sampled_from(
        [None, "text/xml", "application/gzip", "Application/X-GZIP; charset=x", ""]
    ),
    add_bom=st.booleans(),
)
def test_fuzz_decode_differential(body, gzip_it, url_suffix, content_type, add_bom):
    """decode_sitemap_body == reference ungzipped_response_content byte-for-byte
    across gzip/not-gzip × sniffed/not-sniffed × BOM × replacement chars —
    the 'byte-identical extracted text per url' gate at the decode layer."""
    import gzip as gzip_lib

    if add_bom:
        body = b"\xef\xbb\xbf" + body
    if gzip_it:
        payload = gzip_lib.compress(body)
    else:
        payload = body
    url = f"http://d.example.com{url_suffix}"
    expected = ungzipped_response_content(url, _FakeResponse(payload, content_type))
    actual = decode_sitemap_body(url, content_type, payload)
    assert actual == expected
