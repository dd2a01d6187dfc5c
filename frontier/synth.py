"""Deterministic synthetic fetch stores (no network, seed-stable).

Two families:

1. :func:`reference_site_rows` — the reference test-suite's canonical
   mini-site (tests/tree/base.py:41-255) re-materialized as fetch-store rows,
   so golden-tree tests run against DataFrames instead of ``requests_mock``.
2. :func:`synth_crawl_corpus` — a scalable multi-host Common-Crawl-style
   sitemap corpus (robots → index → leaf urlsets) generated distributed via
   ``mapInPandas`` for benchmarks and the two-parallelism scaling run.
"""

from __future__ import annotations

import datetime as _dt
import hashlib as _hashlib
import gzip as _gzip
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .schemas import FETCHES_SCHEMA

TEST_BASE_URL = "http://test_ultimate-sitemap-parser.com"
TEST_DATE = _dt.datetime(
    2009, 12, 17, 12, 4, 56, tzinfo=_dt.timezone(_dt.timedelta(hours=2))
)
TEST_DATE_ISO = TEST_DATE.isoformat()
TEST_PUBLICATION_NAME = "Test publication"
TEST_PUBLICATION_LANGUAGE = "en"


def _row(
    url: str,
    body: str | bytes,
    content_type: str | None = None,
    status: int = 200,
    final_url: str | None = None,
) -> dict:
    return {
        "url": url,
        "final_url": final_url or url,
        "status": status,
        "content_type": content_type,
        "body": body if isinstance(body, bytes) else body.encode("utf-8"),
    }


def gzipped(text: str) -> bytes:
    return _gzip.compress(text.encode("utf-8"), mtime=0)


def reference_site_rows(base: str = TEST_BASE_URL) -> list[dict]:
    """The canonical golden mini-site (tests/tree/base.py:41-255): robots.txt
    with both directive spellings, a static-pages urlset exercising invalid
    changefreq/priority coercion, a two-level news index chain with a 404
    child, a cross-sitemap duplicate story, CDATA/UTF-8/entity cases."""
    robots = (
        "User-agent: *\n"
        "Disallow: /whatever\n"
        "\n"
        f"Sitemap: {base}/sitemap_pages.xml\n"
        "\n"
        '# Intentionally spelled as "Site-map" as Google tolerates this:\n'
        f"Site-map: {base}/sitemap_news_index_1.xml"
    )
    sitemap_pages = f"""<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
    <url>
        <loc>{base}/about.html</loc>
        <lastmod>{TEST_DATE_ISO}</lastmod>
        <changefreq>monthly</changefreq>
        <priority>0.8</priority>
    </url>
    <url>
        <loc>{base}/contact.html</loc>
        <lastmod>{TEST_DATE_ISO}</lastmod>

        <!-- Invalid change frequency -->
        <changefreq>when we feel like it</changefreq>

        <!-- Invalid priority -->
        <priority>1.1</priority>

    </url>
</urlset>"""
    news_index_1 = f"""<?xml version="1.0" encoding="UTF-8"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
    <sitemap>
        <loc>{base}/sitemap_news_1.xml</loc>
        <lastmod>{TEST_DATE_ISO}</lastmod>
    </sitemap>
    <sitemap>
        <loc>{base}/sitemap_news_index_2.xml</loc>
        <lastmod>{TEST_DATE_ISO}</lastmod>
    </sitemap>
</sitemapindex>"""
    news_1 = f"""<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"
        xmlns:news="http://www.google.com/schemas/sitemap-news/0.9"
        xmlns:xhtml="http://www.w3.org/1999/xhtml">

    <url>
        <loc>{base}/news/foo.html</loc>

        <!-- Element present but empty -->
        <lastmod />

        <!-- Some other XML namespace -->
        <xhtml:link rel="alternate"
                    media="only screen and (max-width: 640px)"
                    href="{base}/news/foo.html?mobile=1" />

        <news:news>
            <news:publication>
                <news:name>{TEST_PUBLICATION_NAME}</news:name>
                <news:language>{TEST_PUBLICATION_LANGUAGE}</news:language>
            </news:publication>
            <news:publication_date>{TEST_DATE_ISO}</news:publication_date>
            <news:title>Foo &lt;foo&gt;</news:title>    <!-- HTML entity decoding -->
        </news:news>
    </url>

    <!-- Has a duplicate story in /sitemap_news_2.xml -->
    <url>
        <loc>{base}/news/bar.html</loc>
        <xhtml:link rel="alternate"
                    media="only screen and (max-width: 640px)"
                    href="{base}/news/bar.html?mobile=1" />
        <news:news>
            <news:publication>
                <news:name>{TEST_PUBLICATION_NAME}</news:name>
                <news:language>{TEST_PUBLICATION_LANGUAGE}</news:language>
            </news:publication>
            <news:publication_date>{TEST_DATE_ISO}</news:publication_date>
            <news:title>Bar &amp; bar</news:title>
        </news:news>
    </url>

</urlset>"""
    news_index_2 = f"""<?xml version="1.0" encoding="UTF-8"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">

    <sitemap>
        <!-- Extra whitespace added around URL -->
        <loc>  {base}/sitemap_news_2.xml  </loc>
        <lastmod>{TEST_DATE_ISO}</lastmod>
    </sitemap>

    <!-- Nonexistent sitemap -->
    <sitemap>
        <loc>{base}/sitemap_news_missing.xml</loc>
        <lastmod>{TEST_DATE_ISO}</lastmod>
    </sitemap>

</sitemapindex>"""
    news_2 = f"""<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"
        xmlns:news="http://www.google.com/schemas/sitemap-news/0.9"
        xmlns:xhtml="http://www.w3.org/1999/xhtml">

    <!-- Has a duplicate story in /sitemap_news_1.xml -->
    <url>
        <!-- Extra whitespace added around URL -->
        <loc>  {base}/news/bar.html  </loc>
        <xhtml:link rel="alternate"
                    media="only screen and (max-width: 640px)"
                    href="{base}/news/bar.html?mobile=1#fragment_is_to_be_removed" />
        <news:news>
            <news:publication>
                <news:name>{TEST_PUBLICATION_NAME}</news:name>
                <news:language>{TEST_PUBLICATION_LANGUAGE}</news:language>
            </news:publication>
            <news:publication_date>{TEST_DATE_ISO}</news:publication_date>

            <tag_without_inner_character_data name="value" />

            <news:title>Bar &amp; bar</news:title>
        </news:news>
    </url>

    <url>
        <loc>{base}/news/baz.html</loc>
        <xhtml:link rel="alternate"
                    media="only screen and (max-width: 640px)"
                    href="{base}/news/baz.html?mobile=1" />
        <news:news>
            <news:publication>
                <news:name>{TEST_PUBLICATION_NAME}</news:name>
                <news:language>{TEST_PUBLICATION_LANGUAGE}</news:language>
            </news:publication>
            <news:publication_date>{TEST_DATE_ISO}</news:publication_date>
            <news:title><![CDATA[Bąž]]></news:title>    <!-- CDATA and UTF-8 -->
        </news:news>
    </url>

</urlset>"""
    return [
        _row(f"{base}/", "This is a homepage."),
        _row(f"{base}/robots.txt", robots, content_type="text/plain"),
        _row(f"{base}/sitemap_pages.xml", sitemap_pages, content_type="application/xml"),
        _row(f"{base}/sitemap_news_index_1.xml", news_index_1, content_type="application/xml"),
        _row(f"{base}/sitemap_news_1.xml", news_1, content_type="application/xml"),
        _row(f"{base}/sitemap_news_index_2.xml", news_index_2, content_type="application/xml"),
        _row(f"{base}/sitemap_news_2.xml", news_2, content_type="application/xml"),
        _row(
            f"{base}/sitemap_news_missing.xml",
            "<h1>404 Not Found!</h1>",
            content_type="text/html",
            status=404,
        ),
    ]


def fetches_from_rows(spark: SparkSession, rows: list[dict]) -> DataFrame:
    return spark.createDataFrame(
        [
            (r["url"], r["final_url"], r["status"], r["content_type"], r["body"])
            for r in rows
        ],
        FETCHES_SCHEMA,
    )


def reference_site_fetches(spark: SparkSession) -> DataFrame:
    return fetches_from_rows(spark, reference_site_rows())


# --- scalable corpus (bench / scaling-efficiency evidence) ---------------------

_FREQS = ["always", "hourly", "daily", "weekly", "monthly", "yearly", "never"]


def _leaf_body(host: str, leaf: int, pages_per_leaf: int) -> str:
    """Representative urlset leaf: every page has scalar fields; every 5th
    carries a Google News block and every 10th an image block (the extension
    mix of real news-site sitemaps, usp's headline use case)."""
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
        ' xmlns:news="http://www.google.com/schemas/sitemap-news/0.9"'
        ' xmlns:image="http://www.google.com/schemas/sitemap-image/1.1">',
    ]
    for i in range(pages_per_leaf):
        key = (leaf * 7919 + i * 104729) % 100000
        day = 1 + key % 28
        stamp = f"2025-{1 + key % 12:02d}-{day:02d}T{key % 24:02d}:00:00+00:00"
        extra = ""
        if i % 5 == 0:
            extra += (
                "<news:news><news:publication>"
                f"<news:name>Daily {host}</news:name>"
                "<news:language>en</news:language></news:publication>"
                f"<news:publication_date>{stamp}</news:publication_date>"
                f"<news:title>Story {leaf}-{i} &amp; more</news:title>"
                f"<news:keywords>k{key % 13}, k{key % 7}</news:keywords>"
                "</news:news>"
            )
        if i % 10 == 0:
            extra += (
                f"<image:image><image:loc>http://{host}/img{leaf}_{i}.jpg</image:loc>"
                f"<image:caption>caption {key}</image:caption></image:image>"
            )
        parts.append(
            f"<url><loc>http://{host}/p{leaf}_{i}.html</loc>"
            f"<lastmod>{stamp}</lastmod>"
            f"<changefreq>{_FREQS[key % 7]}</changefreq>"
            f"<priority>0.{key % 10}</priority>{extra}</url>"
        )
    parts.append("</urlset>")
    return "\n".join(parts)


def synth_crawl_corpus(
    spark: SparkSession,
    n_hosts: int,
    leaves_per_host: int = 4,
    pages_per_leaf: int = 100,
    partitions: int | None = None,
    robots_rules: bool = False,
) -> DataFrame:
    """Deterministic multi-host fetch store: per host one robots.txt, one
    sitemap index, ``leaves_per_host`` leaf urlsets of ``pages_per_leaf``
    pages. Generated distributed (one task per host slice) so corpus size
    scales without driver memory involvement.

    ``robots_rules=True`` additionally gives every robots.txt an RFC 9309
    rule section for the ``frontierbot`` agent — ``Disallow: /p0_`` with a
    longer ``Allow: /p0_1`` carve-out and ``Crawl-delay: 1 + host % 5`` —
    plus a deny-all ``*`` fallback group the agent match must skip.  The
    ``Sitemap:`` directive extraction is line-oriented and unaffected, so
    sitemap discovery over the corpus is identical either way."""

    n_parts = partitions or spark.sparkContext.defaultParallelism

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for host_id in batch["id"]:
                host = f"host{int(host_id)}.example.com"
                base = f"http://{host}"
                index_entries = "".join(
                    f"<sitemap><loc>{base}/leaf_{j}.xml</loc></sitemap>"
                    for j in range(leaves_per_host)
                )
                robots_body = f"User-agent: *\nSitemap: {base}/sitemap_index.xml\n"
                if robots_rules:
                    robots_body = (
                        f"Sitemap: {base}/sitemap_index.xml\n\n"
                        "User-agent: frontierbot\n"
                        "Disallow: /p0_\n"
                        "Allow: /p0_1\n"
                        f"Crawl-delay: {1 + int(host_id) % 5}\n\n"
                        "User-agent: *\nDisallow: /\n"
                    )
                rows.append(
                    _row(
                        f"{base}/robots.txt",
                        robots_body,
                        content_type="text/plain",
                    )
                )
                rows.append(
                    _row(
                        f"{base}/sitemap_index.xml",
                        '<?xml version="1.0" encoding="UTF-8"?>'
                        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                        f"{index_entries}</sitemapindex>",
                        content_type="application/xml",
                    )
                )
                for j in range(leaves_per_host):
                    rows.append(
                        _row(
                            f"{base}/leaf_{j}.xml",
                            _leaf_body(host, j, pages_per_leaf),
                            content_type="application/xml",
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["url", "final_url", "status", "content_type", "body"]
            )

    return spark.range(0, n_hosts, numPartitions=n_parts).mapInPandas(
        build, FETCHES_SCHEMA
    )


# --- synthetic image payloads (media_metadata oracle input) --------------------


def synth_media_payloads(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(doc_id, payload binary)`` of REAL minimal image
    files (spec-correct PNG/GIF/BMP/JPEG headers via
    :func:`frontier.multimodal.build_image_payload`), with closed-form
    dimensions so a SQL oracle can derive the expected parse:

        fmt    = [png, gif, bmp, jpeg][doc_id % 4]
        width  = 1 + doc_id % 640
        height = 1 + (doc_id * 7) % 480
        filler = first 64 UTF-8 bytes of ``text`` (pixel-data placeholder)

    Shuffle-free mapInPandas; construction is synth/test harness, the
    header *parsing* downstream is the operator under test."""
    from .multimodal import build_image_payload

    fmts = ["png", "gif", "bmp", "jpeg"]

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = []
            for doc_id, text in zip(batch["doc_id"], batch["text"]):
                i = int(doc_id)
                filler = (text or "").encode("utf-8")[:64]
                payloads.append(
                    build_image_payload(
                        fmts[i % 4], 1 + i % 640, 1 + (i * 7) % 480, filler
                    )
                )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id", "text").mapInPandas(
        build, "doc_id long, payload binary"
    )


def synth_audio_payloads(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(doc_id, payload binary)`` of REAL minimal PCM WAV
    files (spec-correct RIFF headers via
    :func:`frontier.multimodal.build_wav_payload`), with closed-form
    parameters so a SQL oracle can derive the expected parse:

        channels    = 1 + doc_id % 2
        sample_rate = [8000, 16000, 22050, 44100][doc_id % 4]
        bits        = 8 if doc_id % 3 == 0 else 16
        n_samples   = 1 + (doc_id * 31) % 2000

    n_bytes = 44 + data_size + (data_size & 1) with
    data_size = n_samples · channels · bits/8 (word-aligned data chunk)."""
    from .multimodal import build_wav_payload

    rates = [8000, 16000, 22050, 44100]

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                i = int(doc_id)
                payloads.append(
                    build_wav_payload(
                        1 + i % 2, rates[i % 4],
                        8 if i % 3 == 0 else 16,
                        1 + (i * 31) % 2000,
                        fill_byte=i % 256,
                    )
                )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(build, "doc_id long, payload binary")


def synth_mp3_payloads(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(doc_id, payload binary)`` of REAL minimal MPEG-1
    Layer III payloads (:func:`frontier.multimodal.build_mp3_payload`),
    with closed-form parameters so a SQL oracle can derive the expected
    parse:

        bitrate_idx = 1 + doc_id % 14          (all valid table entries)
        rate_idx    = doc_id % 3
        mono        = doc_id % 2 == 0
        id3_pad     = doc_id % 50              (0 → no ID3v2 tag)
        n_data      = 100 + doc_id % 300

    n_bytes = (10 + id3_pad if id3_pad else 0) + 4 + n_data."""
    from .multimodal import build_mp3_payload

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                i = int(doc_id)
                payloads.append(
                    build_mp3_payload(
                        1 + i % 14, i % 3, i % 2 == 0,
                        id3_pad=i % 50, n_data=100 + i % 300,
                    )
                )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(build, "doc_id long, payload binary")


# --- Common-Crawl-style pages corpus (BASELINE.json input_hint shape) ----------

_PAGE_LANGS = ["en", "de", "fr", "es"]
_PAGE_WORDS = [
    "crawl", "frontier", "sitemap", "parse", "index", "fetch", "queue",
    "budget", "shard", "wave", "robots", "seed", "host", "page", "delta",
]


def synth_pages_corpus(
    spark: SparkSession,
    n_hosts: int,
    pages_per_host: int = 50,
    captures_per_page: int = 1,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic pages corpus in the north-rule input shape
    ``(url, warc_ts, html binary, text, lang)``.

    Page URLs follow the ``synth_crawl_corpus`` host grid
    (``http://host{i}.example.com/p{j}.html``) so a corpus and a sitemap
    fetch store over the same hosts line up for integration tests.  The
    ``text`` column is the CLOSED-FORM expected extraction of ``html``
    (written as a literal, NOT via the extractor), so
    ``extract_text(corpus) == corpus.text`` is a genuine differential test
    of the byte-identical-text invariant.  ``captures_per_page > 1`` emits
    recrawl rows with distinct ``warc_ts`` and revision-suffixed bodies for
    :func:`frontier.pages.latest_capture`.

    Generated distributed (``mapInPandas`` over a range), no driver
    materialization.
    """
    n_parts = partitions or spark.sparkContext.defaultParallelism
    base_ts = _dt.datetime(2025, 1, 1, 0, 0, 0)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for idx in batch["id"]:
                i = int(idx)
                host_id, page_id = divmod(i, pages_per_host)
                url = f"http://host{host_id}.example.com/p{page_id}.html"
                for c in range(captures_per_page):
                    key = (i * 7919 + c * 104729) % 100000
                    body = " ".join(
                        _PAGE_WORDS[(key + k) % len(_PAGE_WORDS)]
                        for k in range(5 + key % 11)
                    )
                    title = f"Page {host_id}-{page_id} &amp; rev {c}"
                    h1 = f"Page {host_id}-{page_id}"
                    html = (
                        f"<html><head><title>{title}</title>"
                        '<meta charset="utf-8"/></head>'
                        f"<body><h1>{h1}</h1><p>{body}</p>"
                        "<script>var x = 1;</script></body></html>"
                    )
                    text = (
                        f"Page {host_id}-{page_id} & rev {c}\n{h1}\n{body}"
                    )
                    rows.append(
                        {
                            "url": url,
                            "warc_ts": base_ts
                            + _dt.timedelta(hours=c * 1009 + i % 997),
                            "html": html.encode("utf-8"),
                            "text": text,
                            "lang": _PAGE_LANGS[key % len(_PAGE_LANGS)],
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    from .schemas import PAGES_CORPUS_SCHEMA

    return spark.range(0, n_hosts * pages_per_host, numPartitions=n_parts).mapInPandas(
        build, PAGES_CORPUS_SCHEMA
    )


# --- synthetic WARC segments (warc_ingest oracle input) -------------------------


def synth_warc_segments(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(segment_id, payload binary)`` of spec-correct
    WARC 1.0 segments (via :func:`frontier.warc.build_warc_record`), the
    Common-Crawl container layout: a ``warcinfo`` record, then one
    request + response record pair per document.  Closed-form contract so
    a SQL oracle can derive the expected ingest:

        segment_id   = doc_id // 8
        url          = http://host{doc_id % 50}.example.com/doc/{doc_id}
        warc_ts      = 2025-01-01T00:00:00Z + doc_id seconds
        http_status  = 404 if doc_id % 13 == 0 else 200
        etag         = quoted md5(text) when doc_id % 3 != 0
        last_modified= warc_ts as an RFC 9110 HTTP-date header (always)
        x_robots     = 'noindex' when doc_id % 11 == 0
        content_type = text/plain if doc_id % 5 == 0 else text/html
                       (the raw header carries ``; charset=UTF-8`` when
                       doc_id % 2 == 0 — the parser must strip parameters)
        html         = [b"WARC/1.0\\r\\n\\r\\n" when doc_id % 7 == 0]
                       + b"<html><body>" + text(utf-8) + b"</body></html>"

    The doc_id%7 prefix plants the record banner INSIDE a body so naive
    banner-scanning (instead of Content-Length framing) fails loudly.
    Segments with odd ``segment_id`` are ``.warc.gz``-style concatenated
    per-record gzip members.  Construction is synth/test harness — the
    framing-correct *parsing* downstream is the operator under test."""
    from .warc import build_http_response, build_warc_record

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        out_ids, out_payloads = [], []
        for seg_id, grp in pdf.groupby("segment_id", sort=True):
            parts = [
                build_warc_record(
                    "warcinfo",
                    b"software: frontier-synth\r\n",
                    date="2025-01-01T00:00:00Z",
                )
            ]
            for doc_id, text in zip(grp["doc_id"], grp["text"]):
                i = int(doc_id)
                url = f"http://host{i % 50}.example.com/doc/{i}"
                ts = _dt.datetime(2025, 1, 1) + _dt.timedelta(seconds=i)
                date = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
                body = (
                    (b"WARC/1.0\r\n\r\n" if i % 7 == 0 else b"")
                    + b"<html><body>"
                    + (text or "").encode("utf-8")
                    + b"</body></html>"
                )
                main = "text/plain" if i % 5 == 0 else "text/html"
                ctype = main + ("; charset=UTF-8" if i % 2 == 0 else "")
                status, reason = (404, "Not Found") if i % 13 == 0 else (200, "OK")
                extra = {
                    "Last-Modified": ts.strftime("%a, %d %b %Y %H:%M:%S GMT")
                }
                if i % 3 != 0:
                    extra["ETag"] = (
                        chr(34)
                        + _hashlib.md5((text or "").encode()).hexdigest()
                        + chr(34)
                    )
                if i % 11 == 0:
                    extra["X-Robots-Tag"] = "noindex"
                parts.append(
                    build_warc_record(
                        "request",
                        f"GET /doc/{i} HTTP/1.1\r\nHost: host{i % 50}.example.com\r\n".encode(),
                        url=url,
                        date=date,
                    )
                )
                parts.append(
                    build_warc_record(
                        "response",
                        build_http_response(
                            status, reason, ctype, body, extra=extra
                        ),
                        url=url,
                        date=date,
                    )
                )
            if int(seg_id) % 2 == 1:
                payload = b"".join(
                    _gzip.compress(p, compresslevel=1, mtime=0) for p in parts
                )
            else:
                payload = b"".join(parts)
            out_ids.append(int(seg_id))
            out_payloads.append(payload)
        return pd.DataFrame({"segment_id": out_ids, "payload": out_payloads})

    return (
        docs.selectExpr("doc_id DIV 8 AS segment_id", "doc_id", "text")
        .groupBy("segment_id")
        .applyInPandas(build, "segment_id long, payload binary")
    )


def synth_charset_payloads(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(doc_id, content_type, payload binary)`` of HTML
    bytes in the four encodings that dominate real crawls, with closed-form
    charset declarations so a SQL oracle can derive the expected sniff +
    decode (doc text is ASCII; the non-ASCII markers make the decode
    observable):

        doc_id % 4 == 0: utf-8 BOM    + '<html><body>é ' + text
        doc_id % 4 == 1: utf-16-le BOM + '<html>é ' + text
        doc_id % 4 == 2: iso-8859-1 body 'é café ', charset in the
                         Content-Type header
        doc_id % 4 == 3: windows-1252 body '€ ' declared by <meta charset>
                         (€ = 0x80 — a cp1252-only byte, so decoding with
                         latin-1 instead would NOT round-trip)
    """

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ctypes, payloads = [], []
            for doc_id, text in zip(batch["doc_id"], batch["text"]):
                i, t = int(doc_id), text or ""
                if i % 4 == 0:
                    ctypes.append("text/html")
                    payloads.append(
                        b"\xef\xbb\xbf" + f"<html><body>é {t}".encode("utf-8")
                    )
                elif i % 4 == 1:
                    ctypes.append(None)
                    payloads.append(
                        b"\xff\xfe" + f"<html>é {t}".encode("utf-16-le")
                    )
                elif i % 4 == 2:
                    ctypes.append("text/html; charset=ISO-8859-1")
                    payloads.append(
                        f"<html><body>é café {t}".encode("iso-8859-1")
                    )
                else:
                    ctypes.append("text/html")
                    payloads.append(
                        f"<meta charset=Windows-1252><body>€ {t}".encode(
                            "windows-1252"
                        )
                    )
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"].astype("int64"),
                    "content_type": pd.array(ctypes, dtype="string"),
                    "payload": payloads,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        build, "doc_id long, content_type string, payload binary"
    )


def synth_bmp_pixel_payloads(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(doc_id, payload binary)`` of REAL 24-bit BMPs
    whose every pixel is closed-form, so a SQL oracle can re-derive the
    decoded statistics exactly:

        width         = 4 + doc_id % 5    (covers every 4-byte-padding case)
        height        = 3 + doc_id % 4
        pixel(x,y)[c] = (doc_id*31 + y*7 + x*3 + c*5) % 256
                        (x from left, y from TOP, c = 0/1/2 for r/g/b)

    Encoded with :func:`frontier.multimodal.encode_bmp` (bottom-up rows,
    BGR, padded) — the REAL decoder under test must invert all of that to
    recover the formula values."""
    from .multimodal import encode_bmp

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                i = int(doc_id)
                w, h = 4 + i % 5, 3 + i % 4
                y, x, c = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                )
                px = ((i * 31 + y * 7 + x * 3 + c * 5) % 256).astype(np.uint8)
                payloads.append(encode_bmp(px))
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(build, "doc_id long, payload binary")


def synth_bmp_neardup_payloads(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(doc_id, payload binary)`` of REAL 24-bit BMPs in
    planted NEAR-DUPLICATE groups for the perceptual-hash dedup queries —
    every pixel closed-form so a SQL oracle can re-derive the dHash bands
    exactly:

        base          = doc_id - doc_id % 3     (groups of <= 3 variants)
        delta         = (doc_id % 3) * 2        (uniform brightness shift)
        width         = 4 + base % 5
        height        = 3 + base % 4
        pixel(x,y)[c] = (base*31 + y*7 + x*3 + c*5 + delta) % 256

    Variants of one base share dimensions and differ only by the uniform
    ``delta``, which leaves most adjacent-pixel gray comparisons (the
    dHash bits) unchanged — except where the mod-256 wraparound flips an
    inequality, perturbing a few low-margin bits. That yields genuine
    NEAR (not just exact) duplicate pairs at small Hamming distance,
    exercising the banded-LSH recall path end-to-end."""
    from .multimodal import encode_bmp

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                i = int(doc_id)
                base, delta = i - i % 3, (i % 3) * 2
                w, h = 4 + base % 5, 3 + base % 4
                y, x, c = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                )
                px = (
                    (base * 31 + y * 7 + x * 3 + c * 5 + delta) % 256
                ).astype(np.uint8)
                payloads.append(encode_bmp(px))
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(build, "doc_id long, payload binary")


def synth_pcm_payloads(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(doc_id, payload binary)`` of REAL 16-bit mono PCM
    WAVs with closed-form samples, so a SQL oracle can re-derive the
    decoded waveform statistics exactly:

        n_samples = 50 + doc_id % 100, sample_rate = 16000
        sample[i] = ((doc_id*13 + i*17) % 4001) - 2000   (int16, LE)

    The modulus walk crosses zero constantly, exercising the
    zero-crossing counter's order sensitivity."""
    from .multimodal import build_wav_payload

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                i = int(doc_id)
                n = 50 + i % 100
                samples = (
                    (i * 13 + np.arange(n, dtype=np.int64) * 17) % 4001 - 2000
                ).astype("<i2")
                payloads.append(
                    build_wav_payload(1, 16000, 16, n, data=samples.tobytes())
                )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(build, "doc_id long, payload binary")


def synth_png_pixel_payloads(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(doc_id, payload binary)`` of REAL 8-bit truecolor
    PNGs carrying the SAME closed-form pixel grid as
    :func:`synth_bmp_pixel_payloads` (w = 4 + doc%5, h = 3 + doc%4,
    pixel(x,y)[c] = (doc*31 + y*7 + x*3 + c*5) % 256), but encoded through
    the zlib-deflate scanline path with the filter type CYCLING y % 5 —
    every row exercises a different one of the five PNG filters
    (None/Sub/Up/Average/Paeth), so the decoder must invert all of them to
    recover the formula values."""
    from .multimodal import encode_png, encode_png_any, encode_png_palette

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                i = int(doc_id)
                w, h = 4 + i % 5, 3 + i % 4
                y, x, c = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                )
                px = ((i * 31 + y * 7 + x * 3 + c * 5) % 256).astype(np.uint8)
                # the SAME RGB pixels ride four different encode paths —
                # the oracle is unchanged, but palette indirection (bpp=1
                # filters), Adam7 interlace reassembly, and RGBA alpha
                # dropping must all work to stay green
                variant = i % 4
                if variant == 0:
                    colors, inv = np.unique(
                        px.reshape(-1, 3), axis=0, return_inverse=True
                    )
                    payloads.append(
                        encode_png_palette(
                            inv.reshape(h, w).astype(np.uint8),
                            colors,
                            filter_for_row=lambda r: r % 5,
                        )
                    )
                elif variant == 1:
                    payloads.append(
                        encode_png_any(
                            px, 2, filter_for_row=lambda r: r % 5,
                            interlace=True,
                        )
                    )
                elif variant == 2:
                    alpha = ((i * 7 + y[:, :, :1] + x[:, :, :1]) % 256).astype(
                        np.uint8
                    )
                    payloads.append(
                        encode_png_any(
                            np.concatenate([px, alpha], axis=2), 6,
                            filter_for_row=lambda r: r % 5,
                        )
                    )
                else:
                    payloads.append(
                        encode_png(px, filter_for_row=lambda r: r % 5)
                    )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(build, "doc_id long, payload binary")


def synth_gif_pixel_payloads(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(doc_id, payload binary)`` of REAL GIF89a frames
    (LZW-compressed by the real compressor) with closed-form pixels:

        width = 4 + doc_id % 5, height = 3 + doc_id % 4
        index(x, y) = (doc_id*31 + y*7 + x*3) % 256
        palette[i]  = (i, (2*i) % 256, (3*i) % 256)

    so pixel (x,y) decodes to rgb = (idx, 2*idx % 256, 3*idx % 256) with
    idx as above — the decoder must run the full variable-width LZW walk
    plus palette mapping to recover them."""
    from .multimodal import encode_gif

    pal = np.stack(
        [
            np.arange(256, dtype=np.uint8),
            (np.arange(256) * 2 % 256).astype(np.uint8),
            (np.arange(256) * 3 % 256).astype(np.uint8),
        ],
        axis=1,
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                i = int(doc_id)
                w, h = 4 + i % 5, 3 + i % 4
                y, x = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
                idx = ((i * 31 + y * 7 + x * 3) % 256).astype(np.uint8)
                # every third frame is INTERLACED: identical pixels (the
                # oracle is unchanged) but the decoder must run the
                # four-pass row re-order to stay green
                payloads.append(encode_gif(idx, pal, interlace=(i % 3 == 0)))
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(build, "doc_id long, payload binary")


def synth_jpeg_block_payloads(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(doc_id, payload binary)`` of REAL baseline
    grayscale JPEGs made of constant 8×8 blocks with closed-form levels:

        blocks_x = 1 + doc_id % 3, blocks_y = 1 + doc_id % 2
        level(xb, yb) = 2 * ((doc_id*31 + yb*7 + xb*3) % 128)

    Constant blocks are DCT-exact (DC-only, even levels divide the q=16
    table), so the REAL Huffman+IDCT decoder must reproduce the levels
    bit-for-bit — closed-form oracle territory despite JPEG being lossy in
    general."""
    from .multimodal import encode_jpeg_gray_blocks

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                i = int(doc_id)
                bx, by = 1 + i % 3, 1 + i % 2
                yb, xb = np.meshgrid(np.arange(by), np.arange(bx), indexing="ij")
                blocks = 2 * ((i * 31 + yb * 7 + xb * 3) % 128)
                payloads.append(encode_jpeg_gray_blocks(blocks))
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(build, "doc_id long, payload binary")


def synth_jpeg_color_payloads(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(doc_id, payload binary)`` of REAL baseline COLOR
    JPEGs (YCbCr 4:2:0, two quant tables, four Huffman tables, interleaved
    MCUs) made of constant blocks with closed-form levels:

        mbx = 1 + doc_id % 2, mby = 1 + doc_id % 3   (MCU grid)
        y(xb, yb)  = 2 * ((doc_id*31 + yb*7 + xb*3) % 128)   per 8x8 block
        cb(mx, my) = 2 * ((doc_id*17 + my*5 + mx*11) % 128)  per MCU
        cr(mx, my) = 2 * ((doc_id*23 + my*3 + mx*13) % 128)  per MCU

    Constant blocks are DCT-exact, so the decoder must recover the exact
    YCbCr planes; each 8x8 pixel region is then the closed-form
    floor(x+0.5) JFIF transform of (y, cb, cr) — checkable in SQL despite
    chroma subsampling and the color transform."""
    from .multimodal import encode_jpeg_color_blocks

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                i = int(doc_id)
                mbx, mby = 1 + i % 2, 1 + i % 3
                yb, xb = np.meshgrid(
                    np.arange(2 * mby), np.arange(2 * mbx), indexing="ij"
                )
                y = 2 * ((i * 31 + yb * 7 + xb * 3) % 128)
                my, mx = np.meshgrid(
                    np.arange(mby), np.arange(mbx), indexing="ij"
                )
                cb = 2 * ((i * 17 + my * 5 + mx * 11) % 128)
                cr = 2 * ((i * 23 + my * 3 + mx * 13) % 128)
                # every third file carries the DRI + RSTn resync structure
                # (camera JPEGs): identical pixels, so the oracle is
                # unchanged but the restart handling must work to stay green
                payloads.append(
                    encode_jpeg_color_blocks(
                        y, cb, cr, restart_interval=2 if i % 3 == 0 else 0
                    )
                )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(build, "doc_id long, payload binary")


def synth_avi_mjpeg_payloads(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(doc_id, payload binary)`` of REAL AVI/MJPEG
    containers whose frames are DCT-exact grayscale JPEGs with closed-form
    levels:

        n_frames = 1 + doc_id % 5, bx = 1 + doc_id % 2, by = 1 + doc_id % 3
        level(xb, yb, f) = 2 * ((doc_id*31 + f*19 + yb*7 + xb*3) % 128)

    so the frame walk + per-frame JPEG decode must recover every sampled
    frame's exact pixel grid — container mis-framing, chunk padding
    errors, or a wrong sampling stride all land on different levels."""
    from .multimodal import encode_avi_mjpeg, encode_jpeg_gray_blocks

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                i = int(doc_id)
                nf, bx, by = 1 + i % 5, 1 + i % 2, 1 + i % 3
                yb, xb = np.meshgrid(
                    np.arange(by), np.arange(bx), indexing="ij"
                )
                frames = [
                    encode_jpeg_gray_blocks(
                        2 * ((i * 31 + f * 19 + yb * 7 + xb * 3) % 128)
                    )
                    for f in range(nf)
                ]
                payloads.append(encode_avi_mjpeg(frames, 8 * bx, 8 * by))
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(build, "doc_id long, payload binary")


def synth_deep_corpus(
    spark: SparkSession,
    n_hosts: int,
    chain_depth: int = 9,
    pages_per_leaf: int = 100,
    partitions: int | None = None,
) -> DataFrame:
    """Depth-stress fetch store: per host a robots.txt and a CHAIN of
    nested sitemap indexes ``idx_0 → idx_1 → … → idx_{chain-1}``, each
    level also carrying one leaf urlset of ``pages_per_leaf`` pages — so a
    crawl runs ~``chain_depth + 3`` waves instead of the bench corpus's 3,
    exercising the reference's recursion ceiling
    (fetch_parse.py:69 MAX_RECURSION_LEVEL=11) and measuring the per-wave
    fixed cost at realistic depth. Generated distributed, one task per
    host slice, like :func:`synth_crawl_corpus`."""
    n_parts = partitions or spark.sparkContext.defaultParallelism

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for host_id in batch["id"]:
                hid = int(host_id)
                base = f"http://deep{hid}.example.com"
                rows.append(
                    _row(
                        f"{base}/robots.txt",
                        f"User-agent: *\nSitemap: {base}/idx_0.xml\n",
                        content_type="text/plain",
                    )
                )
                for d in range(chain_depth):
                    entries = f"<sitemap><loc>{base}/leaf_{d}.xml</loc></sitemap>"
                    if d + 1 < chain_depth:
                        entries += (
                            f"<sitemap><loc>{base}/idx_{d + 1}.xml</loc></sitemap>"
                        )
                    rows.append(
                        _row(
                            f"{base}/idx_{d}.xml",
                            '<?xml version="1.0" encoding="UTF-8"?>'
                            "<sitemapindex xmlns="
                            '"http://www.sitemaps.org/schemas/sitemap/0.9">'
                            f"{entries}</sitemapindex>",
                            content_type="application/xml",
                        )
                    )
                    urls = "".join(
                        f"<url><loc>{base}/p{d}_{i}.html</loc>"
                        f"<priority>0.{(hid + d + i) % 10}</priority></url>"
                        for i in range(pages_per_leaf)
                    )
                    rows.append(
                        _row(
                            f"{base}/leaf_{d}.xml",
                            '<?xml version="1.0" encoding="UTF-8"?>'
                            "<urlset xmlns="
                            '"http://www.sitemaps.org/schemas/sitemap/0.9">'
                            f"{urls}</urlset>",
                            content_type="application/xml",
                        )
                    )
            yield pd.DataFrame(rows, columns=list(FETCHES_SCHEMA.names))

    ids = spark.range(0, n_hosts, numPartitions=n_parts)
    return ids.mapInPandas(build, FETCHES_SCHEMA)


def synth_jpeg_progressive_payloads(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(doc_id, payload binary)`` of REAL PROGRESSIVE
    color JPEGs (SOF2, eight successive-approximation scans) carrying the
    SAME closed-form levels as :func:`synth_jpeg_color_payloads` — so the
    same DuckDB oracle gates the progressive decode path: the decoder
    must accumulate DC first/refine + per-component AC first/refine scans
    into identical planes."""
    from .multimodal import encode_jpeg_progressive_color_blocks

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                i = int(doc_id)
                mbx, mby = 1 + i % 2, 1 + i % 3
                yb, xb = np.meshgrid(
                    np.arange(2 * mby), np.arange(2 * mbx), indexing="ij"
                )
                y = 2 * ((i * 31 + yb * 7 + xb * 3) % 128)
                my, mx = np.meshgrid(
                    np.arange(mby), np.arange(mbx), indexing="ij"
                )
                cb = 2 * ((i * 17 + my * 5 + mx * 11) % 128)
                cr = 2 * ((i * 23 + my * 3 + mx * 13) % 128)
                payloads.append(encode_jpeg_progressive_color_blocks(y, cb, cr))
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(build, "doc_id long, payload binary")


def synth_gif_animation_payloads(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(doc_id, payload binary)`` of REAL GIF89a
    ANIMATIONS (NETSCAPE loop extension, per-frame Graphic Control
    Extensions) with closed-form frames:

        n_frames = 1 + doc_id % 4, w = 4 + doc_id % 5, h = 3 + doc_id % 4
        idx(x, y, f) = (doc_id*31 + f*19 + y*7 + x*3) % 256
        palette[i]   = (i, 2i % 256, 3i % 256)

    Full-canvas opaque frames with disposal 1, so each composited canvas
    equals its own frame — per-frame channel sums are closed-form. The
    multi-frame walk, GCE parsing, and per-frame LZW decode must all work
    to recover them."""
    from .multimodal import encode_gif_animation

    pal = np.stack(
        [
            np.arange(256, dtype=np.uint8),
            (np.arange(256) * 2 % 256).astype(np.uint8),
            (np.arange(256) * 3 % 256).astype(np.uint8),
        ],
        axis=1,
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                i = int(doc_id)
                nf, w, h = 1 + i % 4, 4 + i % 5, 3 + i % 4
                y, x = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
                frames = [
                    ((i * 31 + f * 19 + y * 7 + x * 3) % 256).astype(np.uint8)
                    for f in range(nf)
                ]
                payloads.append(encode_gif_animation(frames, pal))
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(build, "doc_id long, payload binary")


def synth_ogg_payloads(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(doc_id, payload binary)`` of REAL CRC-correct
    Ogg/Vorbis containers with closed-form stream parameters:

        channels  = 1 + doc_id % 2
        rate      = [8000, 16000, 22050, 44100][doc_id % 4]
        n_samples = 1000 + (doc_id * 769) % 50000
        n_pages   = 2 + doc_id % 3

    so the page walk must verify every CRC, reassemble the identification
    packet, and read the EOS granule to recover them."""
    from .multimodal import build_ogg_vorbis_payload

    rates = [8000, 16000, 22050, 44100]

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                i = int(doc_id)
                payloads.append(
                    build_ogg_vorbis_payload(
                        1 + i % 2,
                        rates[i % 4],
                        1000 + (i * 769) % 50000,
                        2 + i % 3,
                    )
                )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(build, "doc_id long, payload binary")


def synth_flac_payloads(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(doc_id, payload binary)`` of REAL FLAC streams
    (spec framing: STREAMINFO, CRC-8 frame headers, CONSTANT / VERBATIM /
    FIXED / LPC subframes with Rice residual partitions, frame CRC-16)
    whose every sample is closed-form, so a SQL oracle re-derives the
    decoded waveform statistics exactly:

        n1 = 50 + doc_id % 100     modulus-walk segment (constant zero
        sample[i] = ((doc_id*13 + i*17) % 4001) - 2000     crossings)
        n2 = 10 + doc_id % 23      constant tail (forces CONSTANT
        sample[n1 + j] = (doc_id*7) % 512 - 256            subframes)

    blocksize 32 → every doc emits several frames, cycling the encoder's
    VERBATIM → FIXED(order 0-4) → LPC subframe choice, with the constant
    tail exercising CONSTANT — all four subframe types under one oracle."""
    from .multimodal import build_flac_payload

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                i = int(doc_id)
                n1, n2 = 50 + i % 100, 10 + i % 23
                seg1 = (i * 13 + np.arange(n1, dtype=np.int64) * 17) % 4001 - 2000
                tail = np.full(n2, (i * 7) % 512 - 256, dtype=np.int64)
                payloads.append(
                    build_flac_payload(np.concatenate([seg1, tail]))
                )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(build, "doc_id long, payload binary")


def synth_tiff_pixel_payloads(docs: DataFrame) -> DataFrame:
    """``documents`` → ``(doc_id, payload binary)`` of REAL baseline TIFFs
    carrying the SAME closed-form pixel grid as
    :func:`synth_bmp_pixel_payloads` (w = 4+doc%5, h = 3+doc%4,
    pixel(x,y)[c] = (doc*31 + y*7 + x*3 + c*5) % 256), so the BMP oracle
    arm gates a completely different container walk. Variants cycle by
    doc_id: byte order MM (doc%3==0) / II, compression PackBits (doc%2==1)
    / none, two-row strips — the decoder must invert all of it."""
    from .multimodal import encode_tiff

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = []
            for doc_id in batch["doc_id"]:
                i = int(doc_id)
                w, h = 4 + i % 5, 3 + i % 4
                y, x, c = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                )
                px = ((i * 31 + y * 7 + x * 3 + c * 5) % 256).astype(np.uint8)
                payloads.append(
                    encode_tiff(
                        px,
                        byteorder=">" if i % 3 == 0 else "<",
                        compression=32773 if i % 2 else 1,
                        rows_per_strip=2,
                    )
                )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(build, "doc_id long, payload binary")
