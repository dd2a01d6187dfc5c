"""Wave-engine behavior tests ported from the reference tree suite:
anti-recursion (tests/tree/test_anti_recursion.py), depth limits
(tests/tree/test_edges.py:74-151), known-path discovery
(tests/tree/test_xml.py:101-218), gzip matrix (tests/tree/test_basic.py:135-309,
one representative case per sniff path), BOM end-to-end."""

import pytest

from frontier.synth import (
    TEST_BASE_URL as BASE,
    fetches_from_rows,
    gzipped,
    _row,
)
from frontier.waves import sitemap_tree_for_homepages

ROBOTS_CT = "text/plain"
XML_CT = "application/xml"


def robots_row(*sitemap_urls: str) -> dict:
    lines = "User-agent: *\nDisallow: /whatever\n\n" + "\n".join(
        f"Sitemap: {u}" for u in sitemap_urls
    )
    return _row(f"{BASE}/robots.txt", lines, content_type=ROBOTS_CT)


def index_body(*locs: str) -> str:
    entries = "".join(f"<sitemap><loc>{u}</loc></sitemap>" for u in locs)
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        f"{entries}</sitemapindex>"
    )


def urlset_body(*locs: str) -> str:
    entries = "".join(f"<url><loc>{u}</loc></url>" for u in locs)
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        f"{entries}</urlset>"
    )


def crawl(spark, rows, **kwargs):
    return sitemap_tree_for_homepages(
        spark, [BASE], fetches_from_rows(spark, rows), **kwargs
    )


def test_redirect_to_parent(spark):
    """301 back to an ancestor → InvalidSitemap with redirect-cycle reason
    (test_anti_recursion.py:9-58)."""
    rows = [
        robots_row(f"{BASE}/sitemap.xml"),
        _row(f"{BASE}/sitemap.xml", index_body(f"{BASE}/sitemap_redir.xml"), XML_CT),
        _row(
            f"{BASE}/sitemap_redir.xml",
            b"",
            status=301,
            final_url=f"{BASE}/sitemap.xml",
        ),
    ]
    nodes = crawl(spark, rows).all_sitemaps().collect()
    assert [n.kind for n in nodes[:-1]] == ["website_index", "robots", "xml_index"]
    last = nodes[-1]
    assert last.kind == "invalid"
    assert (
        f"Recursion detected when {BASE}/sitemap_redir.xml redirected to "
        f"{BASE}/sitemap.xml" in last.reason
    )


def test_three_cycle(spark):
    """sitemap_1 → 2 → 3 → 1 cycle stops with ancestor-cycle reason
    (test_anti_recursion.py:60-121)."""
    rows = [
        robots_row(f"{BASE}/sitemap_1.xml"),
        _row(f"{BASE}/sitemap_1.xml", index_body(f"{BASE}/sitemap_2.xml"), XML_CT),
        _row(f"{BASE}/sitemap_2.xml", index_body(f"{BASE}/sitemap_3.xml"), XML_CT),
        _row(f"{BASE}/sitemap_3.xml", index_body(f"{BASE}/sitemap_1.xml"), XML_CT),
    ]
    nodes = crawl(spark, rows).all_sitemaps().collect()
    assert [n.kind for n in nodes[:-1]] == [
        "website_index",
        "robots",
        "xml_index",
        "xml_index",
        "xml_index",
    ]
    assert nodes[-1].kind == "invalid"
    assert f"Recursion detected in URL {BASE}/sitemap_1.xml" in nodes[-1].reason


def test_self_pointing_index(spark):
    """Index listing itself → 3 sitemap nodes, last invalid
    (test_anti_recursion.py:123-167)."""
    rows = [
        robots_row(f"{BASE}/sitemap.xml"),
        _row(f"{BASE}/sitemap.xml", index_body(f"{BASE}/sitemap.xml"), XML_CT),
    ]
    nodes = crawl(spark, rows).all_sitemaps().collect()
    assert len(nodes) == 4  # website root + robots + index + invalid
    assert nodes[-1].kind == "invalid"
    assert f"Recursion detected in URL {BASE}/sitemap.xml" in nodes[-1].reason


def test_known_path_redirecting_to_robots_sitemap_skipped(spark):
    """A known path that 301s onto a robots-discovered sitemap is dropped
    (test_anti_recursion.py:169-214)."""
    rows = [
        robots_row(f"{BASE}/sitemap.xml"),
        _row(f"{BASE}/sitemap.xml", urlset_body(f"{BASE}/about.html"), XML_CT),
        _row(
            f"{BASE}/sitemap-index.xml",
            b"",
            status=301,
            final_url=f"{BASE}/sitemap.xml",
        ),
    ]
    nodes = crawl(spark, rows).all_sitemaps().collect()
    root_children = [n for n in nodes if n.depth == 1]
    assert [n.kind for n in root_children] == ["robots"]


def test_robots_as_index_child_blocked(spark):
    """Index pointing back at robots.txt → invalid (test_edges.py:113-151,
    GH#29)."""
    rows = [
        robots_row(f"{BASE}/sitemap.xml"),
        _row(f"{BASE}/sitemap.xml", index_body(f"{BASE}/robots.txt"), XML_CT),
    ]
    nodes = crawl(spark, rows).all_sitemaps().collect()
    assert nodes[-1].kind == "invalid"
    assert f"Recursion detected in URL {BASE}/robots.txt" in nodes[-1].reason


def test_depth_limit(spark):
    """A 13-deep distinct-URL chain stops at recursion level 11 with the
    reference's depth message (fetch_parse.py:109-112)."""
    rows = [robots_row(f"{BASE}/level_1.xml")]
    for i in range(1, 14):
        rows.append(
            _row(f"{BASE}/level_{i}.xml", index_body(f"{BASE}/level_{i + 1}.xml"), XML_CT)
        )
    nodes = crawl(spark, rows, use_known_paths=False).all_sitemaps().collect()
    # root + robots(level0) + level_1..level_11 fetched + level_12 invalid
    assert nodes[-1].kind == "invalid"
    assert nodes[-1].url == f"{BASE}/level_12.xml"
    assert nodes[-1].reason == (
        f"Unable to add sub-sitemap from URL {BASE}/level_12.xml: "
        f"Recursion level exceeded 11 for URL {BASE}/level_12.xml."
    )
    assert len([n for n in nodes if n.kind == "xml_index"]) == 11


def test_unpublished_sitemap_discovery(spark):
    """Known-path probing finds sitemap_index.xml not named in robots.txt
    (test_xml.py:136-218); robots child ordered before known-path child."""
    rows = [
        robots_row(f"{BASE}/sitemap_public.xml"),
        _row(f"{BASE}/sitemap_public.xml", urlset_body(f"{BASE}/news/public.html"), XML_CT),
        _row(f"{BASE}/sitemap_index.xml", urlset_body(f"{BASE}/news/private.html"), XML_CT),
    ]
    forest = crawl(spark, rows)
    nodes = forest.all_sitemaps().collect()
    assert [(n.url, n.kind, n.depth, n.seq) for n in nodes] == [
        (f"{BASE}/", "website_index", 0, 0),
        (f"{BASE}/robots.txt", "robots", 1, 0),
        (f"{BASE}/sitemap_public.xml", "xml_pages", 2, 0),
        (f"{BASE}/sitemap_index.xml", "xml_pages", 1, 1),
    ]
    pages = forest.all_pages().collect()
    assert [p.page_url for p in pages] == [
        f"{BASE}/news/public.html",
        f"{BASE}/news/private.html",
    ]


def test_gzip_paths_end_to_end(spark):
    """Gzip sniff matrix through the engine: .gz extension without header,
    gzip content-type without extension, and a robots BOM
    (test_basic.py:135-309, test_edges.py:17-72)."""
    body1 = urlset_body(f"{BASE}/news/foo.html")
    body2 = urlset_body(f"{BASE}/news/bar.html")
    robots = (
        "User-agent: *\n\n"
        f"Sitemap: {BASE}/sitemap_1.gz\n"
        f"Sitemap: {BASE}/sitemap_2.dat\n"
    ).encode("utf-8-sig")
    rows = [
        _row(f"{BASE}/robots.txt", robots, content_type=ROBOTS_CT),
        _row(f"{BASE}/sitemap_1.gz", gzipped(body1)),
        _row(f"{BASE}/sitemap_2.dat", gzipped(body2), content_type="application/x-gzip"),
    ]
    pages = crawl(spark, rows).all_pages().collect()
    assert [p.page_url for p in pages] == [
        f"{BASE}/news/foo.html",
        f"{BASE}/news/bar.html",
    ]


def test_recurse_filter_hook(spark):
    """R5 recursion hook: children can be filtered between parse and expansion
    (tests/tree/test_opts.py semantics via a DataFrame filter)."""
    from pyspark.sql import functions as F

    rows = [
        robots_row(f"{BASE}/keep.xml", f"{BASE}/drop.xml"),
        _row(f"{BASE}/keep.xml", urlset_body(f"{BASE}/a.html"), XML_CT),
        _row(f"{BASE}/drop.xml", urlset_body(f"{BASE}/b.html"), XML_CT),
    ]
    forest = crawl(
        spark,
        rows,
        use_known_paths=False,
        recurse_filter=lambda df: df.filter(~F.col("child_url").contains("drop")),
    )
    nodes = forest.all_sitemaps().collect()
    assert [n.url for n in nodes if n.depth == 2] == [f"{BASE}/keep.xml"]
    assert [p.page_url for p in forest.all_pages().collect()] == [f"{BASE}/a.html"]


def test_recurse_callback_per_url(spark):
    """Per-URL recurse_callback (usp/tree.py:48; tests/tree/test_opts.py:29-43):
    predicate gets (url, recursion_level, parent_urls); False drops the child
    entirely — it never appears in the forest."""
    import re

    rows = [
        robots_row(f"{BASE}/pages.xml", f"{BASE}/news_index_1.xml"),
        _row(f"{BASE}/pages.xml", urlset_body(f"{BASE}/about.html"), XML_CT),
        _row(
            f"{BASE}/news_index_1.xml",
            index_body(f"{BASE}/news_1.xml", f"{BASE}/news_2.xml"),
            XML_CT,
        ),
        _row(f"{BASE}/news_1.xml", urlset_body(f"{BASE}/news/a.html"), XML_CT),
        _row(f"{BASE}/news_2.xml", urlset_body(f"{BASE}/news/b.html"), XML_CT),
    ]

    seen: list[tuple[str, int]] = []

    def callback(url: str, recursion_level: int, parent_urls: set) -> bool:
        # signature parity with the reference; parents must include robots.txt
        assert isinstance(parent_urls, set)
        if recursion_level >= 2:
            assert any(u.endswith("robots.txt") for u in parent_urls)
        return re.search(r"news_\d+\.xml$", url) is None or "index" in url

    forest = crawl(
        spark, rows, use_known_paths=False, recurse_callback=callback
    )
    urls = sorted(n.url for n in forest.all_sitemaps().collect())
    # root + robots + pages + news_index_1 survive; news_1/news_2 are dropped
    assert urls == [
        f"{BASE}/",
        f"{BASE}/news_index_1.xml",
        f"{BASE}/pages.xml",
        f"{BASE}/robots.txt",
    ]
    assert [p.page_url for p in forest.all_pages().collect()] == [
        f"{BASE}/about.html"
    ]
    forest.unpersist()


def test_recurse_callback_composes_with_list_filter(spark):
    """Both hooks given → list filter first, then the per-URL predicate
    (fetch_parse.py order: recurse_list_callback, then recurse_callback)."""
    from pyspark.sql import functions as F

    rows = [
        robots_row(f"{BASE}/a.xml", f"{BASE}/b.xml", f"{BASE}/c.xml"),
        _row(f"{BASE}/a.xml", urlset_body(f"{BASE}/1.html"), XML_CT),
        _row(f"{BASE}/b.xml", urlset_body(f"{BASE}/2.html"), XML_CT),
        _row(f"{BASE}/c.xml", urlset_body(f"{BASE}/3.html"), XML_CT),
    ]
    forest = crawl(
        spark,
        rows,
        use_known_paths=False,
        recurse_filter=lambda df: df.filter(~F.col("child_url").contains("/b.xml")),
        recurse_callback=lambda url, level, parents: "/c.xml" not in url,
    )
    urls = sorted(n.url for n in forest.all_sitemaps().collect())
    assert urls == [f"{BASE}/", f"{BASE}/a.xml", f"{BASE}/robots.txt"]
    forest.unpersist()


def test_deep_chain_crawls_to_recursion_ceiling(spark):
    """Depth-stress corpus (synth_deep_corpus): a chain_depth=11 index
    chain is the first shape the recursion ceiling bites — its deepest
    leaf is blocked with the reference's exact message
    (fetch_parse.py:69), while chain_depth=10 crawls fully through 12
    waves. Pins the corpus the depth bench (scripts/bench_scaling.py deep)
    relies on."""
    from frontier.synth import synth_deep_corpus
    from frontier.waves import LAST_WAVE_TIMINGS, sitemap_tree_for_homepages

    corpus = synth_deep_corpus(spark, 2, chain_depth=10, pages_per_leaf=3)
    forest = sitemap_tree_for_homepages(
        spark, [f"http://deep{i}.example.com/" for i in range(2)], corpus,
        use_known_paths=False,
    )
    assert forest.all_pages().count() == 2 * 10 * 3  # nothing blocked
    assert len(LAST_WAVE_TIMINGS) == 12
    assert all(t["seconds"] > 0 for t in LAST_WAVE_TIMINGS)
    assert all(
        t["parse_s"] + t["close_s"] <= t["seconds"] + 0.002
        for t in LAST_WAVE_TIMINGS
    )

    corpus11 = synth_deep_corpus(spark, 2, chain_depth=11, pages_per_leaf=3)
    forest11 = sitemap_tree_for_homepages(
        spark, [f"http://deep{i}.example.com/" for i in range(2)], corpus11,
        use_known_paths=False,
    )
    assert forest11.all_pages().count() == 2 * 10 * 3  # last leaf blocked
    invalid = [
        n for n in forest11.all_sitemaps().collect() if n.kind == "invalid"
    ]
    assert len(invalid) == 2
    assert all("Recursion level exceeded" in n.reason for n in invalid)
