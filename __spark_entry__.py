"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship crawl (reference ``sitemap_tree_for_homepage``,
usp/tree.py:42-130, re-expressed as DataFrame waves). ``queries`` and
``oracle_sql`` read one table, ``frontier.datapipe.REGISTRY``: the
training-data pipeline ops register there, and this module registers the
crawl surface, the media codecs and the WARC kernels the same way, each
with its DuckDB-equivalent SQL (constructive oracles: the flagship golden
tree is pinned as VALUES against the reference's own expected rows,
/root/reference/tests/tree/test_basic.py:122-133; the multi-host crawl and
the media operators are derived in closed form from their deterministic
synthesized inputs).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from frontier.datapipe import REGISTRY, QueryDef, _register
from frontier.multimodal import (
    audio_pcm_stats,
    extract_audio_metadata,
    extract_media_features,
    extract_media_metadata,
    extract_mp3_metadata,
    extract_ogg_metadata,
    flac_pcm_stats,
    gif_animation_stats,
    image_dhash,
    image_pixel_stats,
    resize_image_real,
    resize_images,
    sample_video_frames,
    video_frame_stats,
)
from frontier.robots import crawl_fetch_plan
from frontier.synth import (
    TEST_BASE_URL,
    reference_site_fetches,
    synth_audio_payloads,
    synth_avi_mjpeg_payloads,
    synth_bmp_neardup_payloads,
    synth_bmp_pixel_payloads,
    synth_crawl_corpus,
    synth_flac_payloads,
    synth_gif_animation_payloads,
    synth_gif_pixel_payloads,
    synth_jpeg_block_payloads,
    synth_jpeg_color_payloads,
    synth_jpeg_progressive_payloads,
    synth_media_payloads,
    synth_mp3_payloads,
    synth_ogg_payloads,
    synth_pcm_payloads,
    synth_png_pixel_payloads,
    synth_tiff_pixel_payloads,
    synth_warc_segments,
)
from frontier.warc import warc_records
from frontier.waves import sitemap_tree_for_homepages

_PAGE_COLS = [
    "seed",
    "sitemap_url",
    "page_url",
    "priority",
    "last_modified",
    "change_frequency",
]


def _flagship(spark: SparkSession) -> DataFrame:
    forest = sitemap_tree_for_homepages(
        spark, [TEST_BASE_URL], reference_site_fetches(spark)
    )
    return forest.all_pages().select(*_PAGE_COLS)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: crawl the reference golden mini-site end-to-end (6 pages)."""
    return _flagship(spark)


def _render_lastmod(pages: DataFrame) -> DataFrame:
    """Gate projection: last_modified and priority as formatted strings.

    The engine stores UTC-naive instants; naive datetimes round-trip
    through Spark's session-TZ interpretation + date_format rendering
    unchanged, so the string is the UTC wall clock on any session TZ —
    the only encoding whose value hash is identical across Spark's pandas
    conversion and DuckDB's (same rationale as sessionize's bounds).
    Priority likewise: DuckDB's pandas conversion coerces DECIMAL to
    float64 while Spark keeps Decimal, so both sides render the scaled
    string ('0.80')."""
    return pages.withColumn(
        "last_modified",
        F.date_format("last_modified", "yyyy-MM-dd HH:mm:ss"),
    ).withColumn("priority", F.col("priority").cast("string"))


def _flagship_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _render_lastmod(_flagship(spark))


# The 6 golden rows of the reference mini-site crawl, pinned verbatim from
# the reference's own expectations (/root/reference/tests/tree/test_basic.py:
# 122-133 via tests/tree/base.py fixtures): about/contact from
# sitemap_pages.xml (invalid changefreq→always, invalid priority→0.5),
# foo/bar from sitemap_news_1.xml, bar (cross-sitemap duplicate retained)
# and baz from sitemap_news_2.xml; lastmod 2009-12-17T12:04:56+02:00 →
# 10:04:56 UTC.
_B = "http://test_ultimate-sitemap-parser.com"
_FLAGSHIP_ORACLE = f"""
SELECT * FROM (VALUES
  ('{_B}/', '{_B}/sitemap_pages.xml', '{_B}/about.html',
   '0.80', '2009-12-17 10:04:56', 'monthly'),
  ('{_B}/', '{_B}/sitemap_pages.xml', '{_B}/contact.html',
   '0.50', '2009-12-17 10:04:56', 'always'),
  ('{_B}/', '{_B}/sitemap_news_1.xml', '{_B}/news/foo.html',
   '0.50', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
  ('{_B}/', '{_B}/sitemap_news_1.xml', '{_B}/news/bar.html',
   '0.50', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
  ('{_B}/', '{_B}/sitemap_news_2.xml', '{_B}/news/bar.html',
   '0.50', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
  ('{_B}/', '{_B}/sitemap_news_2.xml', '{_B}/news/baz.html',
   '0.50', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))
) t(seed, sitemap_url, page_url, priority, last_modified, change_frequency)
"""
_register(
    "flagship_tree",
    QueryDef(build=_flagship_gate, oracle=_FLAGSHIP_ORACLE),
)


def _frontier_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_hosts = 8
    corpus = synth_crawl_corpus(spark, n_hosts, leaves_per_host=2, pages_per_leaf=25)
    seeds = [f"http://host{i}.example.com/" for i in range(n_hosts)]
    forest = sitemap_tree_for_homepages(
        spark, seeds, corpus, use_known_paths=False
    )
    return _render_lastmod(forest.all_pages().select(*_PAGE_COLS))


# Closed-form reconstruction of synth_crawl_corpus(8, 2, 25)'s page grid
# (frontier/synth.py _leaf_body): key = (leaf*7919 + page*104729) % 100000;
# stamp/changefreq/priority are pure functions of key.
_CRAWL_ORACLE = """
WITH grid AS (
  SELECT h.h, l.j, p.i, (l.j * 7919 + p.i * 104729) % 100000 AS key
  FROM (SELECT unnest(generate_series(0, 7)) AS h) h,
       (SELECT unnest(generate_series(0, 1)) AS j) l,
       (SELECT unnest(generate_series(0, 24)) AS i) p
)
SELECT
  'http://host' || h || '.example.com/' AS seed,
  'http://host' || h || '.example.com/leaf_' || j || '.xml' AS sitemap_url,
  'http://host' || h || '.example.com/p' || j || '_' || i || '.html'
    AS page_url,
  CAST(CAST((key % 10) / 10.0 AS DECIMAL(3,2)) AS VARCHAR) AS priority,
  printf('2025-%02d-%02d %02d:00:00',
         1 + key % 12, 1 + key % 28, key % 24) AS last_modified,
  (['always','hourly','daily','weekly','monthly','yearly','never'])[key % 7 + 1]
    AS change_frequency
FROM grid
"""
_register(
    "frontier_crawl",
    QueryDef(
        build=_frontier_crawl,
        oracle=_CRAWL_ORACLE,
        doc="""Multi-host crawl over the deterministic synthetic corpus
        (synth_crawl_corpus(8, 2, 25): robots → index → leaf urlsets per host);
        the oracle reconstructs the expected 400-page set in closed form from
        the generator's host×leaf×page grid.""",
    ),
)


def _frontier_fetch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_hosts = 8
    corpus = synth_crawl_corpus(
        spark, n_hosts, leaves_per_host=2, pages_per_leaf=25, robots_rules=True
    )
    seeds = [f"http://host{i}.example.com/" for i in range(n_hosts)]
    plan = crawl_fetch_plan(
        spark, seeds, corpus,
        round_seconds=30.0, default_budget=12, salt_buckets=4,
        use_known_paths=False,
    )
    return plan.select(
        "canonical_host", "page_url", "fetch_rank", "fetch_budget"
    ).orderBy("canonical_host", "fetch_rank")


# Grid reconstruction as in _CRAWL_ORACLE; rules (synth_crawl_corpus
# robots_rules=True): Disallow /p0_ (plen 4) < Allow /p0_1 (plen 5) → leaf-0
# pages blocked unless the page number's decimal starts with '1';
# Crawl-delay = 1 + h % 5 → budget = min(12, floor(30 / delay)).
_FETCH_PLAN_ORACLE = """
WITH grid AS (
  SELECT h.h, l.j, p.i, (l.j * 7919 + p.i * 104729) % 100000 AS key
  FROM (SELECT unnest(generate_series(0, 7)) AS h) h,
       (SELECT unnest(generate_series(0, 1)) AS j) l,
       (SELECT unnest(generate_series(0, 24)) AS i) p
),
pages AS (
  SELECT 'host' || h || '.example.com' AS canonical_host,
         'http://host' || h || '.example.com/p' || j || '_' || i || '.html'
           AS page_url,
         (key % 10) / 10.0 AS priority,
         make_timestamp(2025, 1 + key % 12, 1 + key % 28, key % 24, 0, 0)
           AS last_modified,
         LEAST(12, GREATEST(1, CAST(FLOOR(30.0 / (1 + h % 5)) AS INTEGER)))
           AS fetch_budget
  FROM grid
  WHERE j = 1 OR CAST(i AS VARCHAR) LIKE '1%'
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY canonical_host
      ORDER BY priority DESC, last_modified DESC, page_url) AS fetch_rank
  FROM pages
)
SELECT canonical_host, page_url,
       CAST(fetch_rank AS INTEGER) AS fetch_rank, fetch_budget
FROM ranked
WHERE fetch_rank <= fetch_budget
ORDER BY canonical_host, fetch_rank
"""
_register(
    "frontier_fetch_plan",
    QueryDef(
        build=_frontier_fetch_plan,
        oracle=_FETCH_PLAN_ORACLE,
        doc="""The north rule end-to-end: sitemap discovery → RFC 9309 robots rules
        → Crawl-delay budgets → salted priority-queue fetch plan
        (frontier.robots.crawl_fetch_plan) over synth_crawl_corpus(8, 2, 25,
        robots_rules=True); the oracle reconstructs the plan in closed form
        from the generator grid + rule semantics.""",
    ),
)


def _decoded(
    op: Callable[[DataFrame], DataFrame],
    synth: Callable[[DataFrame], DataFrame],
    *keys: str,
) -> Callable[[SparkSession, str], DataFrame]:
    """Builder of a decode-kernel query: synthesize closed-form payloads
    from ``documents``, run the kernel ``op`` over them, order by ``keys``."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return op(synth(docs)).orderBy(*keys)

    return build


def _media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = synth_media_payloads(docs)
    return (
        extract_media_metadata(media)
        .select("doc_id", "media_type", "n_bytes", "width", "height", "n_frames")
        .orderBy("doc_id")
    )


# synth_media_payloads: fmt = [png,gif,bmp,jpeg][doc_id%4], header sizes
# [57,14,54,21] + up-to-64-byte text filler, dims 1+doc_id%640 ×
# 1+(doc_id*7)%480 — the parser under test must read these back from the
# actual file headers.
_MEDIA_META_ORACLE = """
SELECT doc_id,
       (['png','gif','bmp','jpeg'])[doc_id % 4 + 1] AS media_type,
       CAST(([57,14,54,21])[doc_id % 4 + 1]
            + least(64, strlen(coalesce(text, ''))) AS BIGINT) AS n_bytes,
       CAST(1 + doc_id % 640 AS INT) AS width,
       CAST(1 + (doc_id * 7) % 480 AS INT) AS height,
       CAST(1 AS INT) AS n_frames
FROM documents
ORDER BY doc_id
"""
_register(
    "media_metadata",
    QueryDef(
        build=_media_metadata,
        oracle=_MEDIA_META_ORACLE,
        doc="""REAL image-header parsing (PNG IHDR / GIF screen descriptor / BMP DIB
        / JPEG SOF) over spec-correct synthesized image payloads; the oracle
        derives the expected format/dims/sizes in closed form from the
        synth_media_payloads contract.""",
    ),
)


# synth_audio_payloads: channels = 1 + doc_id%2, rate =
# [8000,16000,22050,44100][doc_id%4], bits = 8 if doc_id%3==0 else 16,
# n_samples = 1 + (doc_id*31)%2000; n_bytes = 44 + data + (data odd-pad).
_MEDIA_AUDIO_ORACLE = """
WITH p AS (
    SELECT doc_id,
           1 + doc_id % 2 AS channels,
           ([8000,16000,22050,44100])[doc_id % 4 + 1] AS rate,
           CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits,
           1 + (doc_id * 31) % 2000 AS n_samples
    FROM documents
), d AS (
    SELECT *, n_samples * channels * (bits // 8) AS data_size FROM p
)
SELECT doc_id,
       'wav' AS media_type,
       CAST(44 + data_size + (data_size % 2) AS BIGINT) AS n_bytes,
       CAST(channels AS INT) AS channels,
       CAST(rate AS INT) AS sample_rate_hz,
       CAST(bits AS INT) AS bits_per_sample,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST((n_samples * 1000) // rate AS BIGINT) AS duration_ms
FROM d
ORDER BY doc_id
"""
_register(
    "media_audio_metadata",
    QueryDef(
        build=_decoded(extract_audio_metadata, synth_audio_payloads, "doc_id"),
        oracle=_MEDIA_AUDIO_ORACLE,
        doc="""REAL WAV header parsing (RIFF chunk walk: channels / sample rate /
        bit depth / sample count -> duration) over spec-correct synthesized PCM
        WAV payloads; the oracle derives every field in closed form from the
        synth_audio_payloads contract.""",
    ),
)


# synth_mp3_payloads: bitrate_idx = 1 + doc_id%14, rate_idx = doc_id%3,
# mono = doc_id%2==0, id3_pad = doc_id%50, n_data = 100 + doc_id%300.
_MEDIA_MP3_ORACLE = """
SELECT doc_id,
       'mp3' AS media_type,
       CAST(CASE WHEN doc_id % 50 = 0 THEN 0 ELSE 10 + doc_id % 50 END
            + 4 + 100 + doc_id % 300 AS BIGINT) AS n_bytes,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INT) AS channels,
       CAST(([44100,48000,32000])[doc_id % 3 + 1] AS INT) AS sample_rate_hz,
       CAST(([32,40,48,56,64,80,96,112,128,160,192,224,256,320])
            [(1 + doc_id % 14)] AS INT) AS bitrate_kbps
FROM documents
ORDER BY doc_id
"""
_register(
    "media_mp3_metadata",
    QueryDef(
        build=_decoded(extract_mp3_metadata, synth_mp3_payloads, "doc_id"),
        oracle=_MEDIA_MP3_ORACLE,
        doc="""REAL MPEG-1 Layer III frame-header parsing (ID3v2 skip + spec
        bitrate/sample-rate tables) over spec-correct synthesized payloads;
        the oracle re-derives every field from the synth_mp3_payloads
        contract and the same spec tables.""",
    ),
)


def _media_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(F.col("doc_id"), F.encode("text", "utf-8").alias("payload"))


def _media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = resize_images(_media_payloads(spark, sf_dir), 224, 224)
    return out.select(
        "doc_id", "width", "height", F.sha2("payload", 256).alias("payload_sha")
    ).orderBy("doc_id")


# resize stub: payload = repeat(hex(sha256(in)) || ':224x224', k),
# k = 1 + min(bytes, 4096) // 72 (72 = 64 hex chars + len(':224x224')).
_MEDIA_RESIZE_ORACLE = """
SELECT doc_id,
       CAST(224 AS INT) AS width,
       CAST(224 AS INT) AS height,
       sha256(repeat(sha256(coalesce(text, '')) || ':224x224',
                     1 + least(strlen(coalesce(text, '')), 4096) // 72))
         AS payload_sha
FROM documents
ORDER BY doc_id
"""
_register(
    "media_resize",
    QueryDef(
        build=_media_resize,
        oracle=_MEDIA_RESIZE_ORACLE,
        doc="""Image resize plumbing (stub transform, a pure function of
        sha256(payload) + target dims — the oracle recomputes the resized
        payload's sha256 from sha256(text) alone).""",
    ),
)


def _media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sample_video_frames(_media_payloads(spark, sf_dir), every_n=2)
    return out.select("doc_id", "frame_idx", "frame_sha256").orderBy(
        "doc_id", "frame_idx"
    )


# frames stub: n_frames = 1 + hashbyte2 % 8 (hex chars 5-6), sampled every 2
# → ceil(n/2) frames; frame payload = hex || ':frame:' || (idx*2).
_MEDIA_FRAMES_ORACLE = """
WITH base AS (
  SELECT doc_id, sha256(coalesce(text, '')) AS h,
         1 + ('0x' || substr(sha256(coalesce(text, '')), 5, 2))::INT % 8
           AS n_frames
  FROM documents
), expanded AS (
  SELECT doc_id, h,
         unnest(generate_series(0, (n_frames + 1) // 2 - 1)) AS frame_idx
  FROM base
)
SELECT doc_id,
       CAST(frame_idx AS INT) AS frame_idx,
       sha256(h || ':frame:' || (frame_idx * 2)) AS frame_sha256
FROM expanded
ORDER BY doc_id, frame_idx
"""
_register(
    "media_frames",
    QueryDef(
        build=_media_frames,
        oracle=_MEDIA_FRAMES_ORACLE,
        doc="""Video frame sampling plumbing (stub sampler; frame count and frame
        payloads are pure functions of sha256(payload), re-derived by the
        oracle).""",
    ),
)


# synth_avi_mjpeg_payloads: nf = 1 + doc%5, bx = 1 + doc%2, by = 1 + doc%3,
# level(xb,yb,f) = 2*((doc*31 + f*19 + yb*7 + xb*3) % 128); sampling keeps
# stream frames 0,2,4. Per constant block: sum contribution 64*v, moments
# as in the image-stats oracles.
_MEDIA_AVI_FRAMES_ORACLE = """
WITH dims AS (
    SELECT doc_id, 1 + doc_id % 5 AS nf,
           1 + doc_id % 2 AS bx, 1 + doc_id % 3 AS by
    FROM documents
),
frames AS (
    SELECT d.doc_id, d.bx, d.by, fs.f
    FROM dims d
    JOIN range(0, 5) fs(f) ON fs.f < d.nf AND fs.f % 2 = 0
),
blk AS (
    SELECT fr.doc_id, fr.bx, fr.by, fr.f, xs.xb, ys.yb,
           2 * ((fr.doc_id * 31 + fr.f * 19 + ys.yb * 7 + xs.xb * 3) % 128)
             AS v
    FROM frames fr
    JOIN range(0, 2) xs(xb) ON xs.xb < fr.bx
    JOIN range(0, 3) ys(yb) ON ys.yb < fr.by
)
SELECT doc_id,
       CAST(f AS INT) AS frame_no,
       CAST(8 * bx AS INT) AS width,
       CAST(8 * by AS INT) AS height,
       CAST(SUM(64 * v) AS BIGINT) AS sum_gray,
       CAST(SUM(8 * v * (64 * xb + 28)) AS BIGINT) AS moment_x,
       CAST(SUM(8 * v * (64 * yb + 28)) AS BIGINT) AS moment_y
FROM blk
GROUP BY doc_id, f, bx, by
ORDER BY doc_id, frame_no
"""
_register(
    "media_avi_frame_stats",
    QueryDef(
        build=_decoded(
            partial(video_frame_stats, every_n=2),
            synth_avi_mjpeg_payloads,
            "doc_id",
            "frame_no",
        ),
        oracle=_MEDIA_AVI_FRAMES_ORACLE,
        doc="""REAL video frame extraction: AVI/MJPEG RIFF container walk (LIST
        recursion, even padding, '##dc' chunks in stream order) + every-2nd
        sampling + the REAL baseline JPEG decode of each sampled frame, over
        containers whose frames are DCT-exact closed-form grids — mis-framed
        chunks, wrong stride, or a dropped frame all land on different
        levels. Replaces the former frame-sampling stub for the AVI path
        (codec formats keep the deterministic stub with that honest scope
        stated).""",
    ),
)


def _mixed_media_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SIX-format mixed binary media column (BMP / PNG / GIF /
    grayscale JPEG / color JPEG / TIFF by doc_id % 6) shared by
    media_mixed_pixel_stats and media_features — one column, one decode
    cascade, per-format closed-form pixels. TIFF (round-5) carries the
    same pixel formula as BMP/PNG through a third container walk (IFD
    tags, strip framing, PackBits, both byte orders)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        synth_bmp_pixel_payloads(docs.filter("doc_id % 6 = 0"))
        .unionByName(synth_png_pixel_payloads(docs.filter("doc_id % 6 = 1")))
        .unionByName(synth_gif_pixel_payloads(docs.filter("doc_id % 6 = 2")))
        .unionByName(synth_jpeg_block_payloads(docs.filter("doc_id % 6 = 3")))
        .unionByName(synth_jpeg_color_payloads(docs.filter("doc_id % 6 = 4")))
        .unionByName(synth_tiff_pixel_payloads(docs.filter("doc_id % 6 = 5")))
    )


def _embedding_moments(media: DataFrame) -> DataFrame:
    """16-dim content embeddings of ``media`` reduced to two exact
    moments: sq_norm and the index-weighted idx_dot (which pins component
    ORDER — a permuted embedding cannot match)."""
    return extract_media_features(media, dim=16).select(
        "doc_id",
        F.expr(
            "aggregate(embedding, CAST(0.0 AS DOUBLE),"
            " (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        ).alias("sq_norm"),
        F.expr(
            "aggregate(zip_with(embedding, sequence(1, 16),"
            " (v, i) -> CAST(v AS DOUBLE) * CAST(i AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("idx_dot"),
    )


def _media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _embedding_moments(_mixed_media_column(spark, sf_dir)).orderBy(
        "doc_id"
    )


# Per-format per-pixel gray (r+g+b) in closed form, 4×4 grid floor-means
# m = cell_sum // cell_area (0 for empty cells), components m/1024 →
# sq_norm = Σ m² / 2^20, idx_dot = Σ (i·4+j+1)·m / 2^10 — all dyadic
# rationals, bit-exact in any summation order.
_MEDIA_FEATURES_ORACLE = """
WITH bmpish AS (
    SELECT d.doc_id, 4 + d.doc_id % 5 AS w, 3 + d.doc_id % 4 AS h,
           xs.x, ys.y,
           ((d.doc_id*31 + ys.y*7 + xs.x*3) % 256
            + (d.doc_id*31 + ys.y*7 + xs.x*3 + 5) % 256
            + (d.doc_id*31 + ys.y*7 + xs.x*3 + 10) % 256) AS gray
    FROM documents d
    JOIN range(0, 8) xs(x) ON xs.x < 4 + d.doc_id % 5
    JOIN range(0, 6) ys(y) ON ys.y < 3 + d.doc_id % 4
    WHERE d.doc_id % 6 IN (0, 1, 5)
),
gifpx AS (
    SELECT doc_id, w, h, x, y,
           (idx + (idx * 2) % 256 + (idx * 3) % 256) AS gray
    FROM (
        SELECT d.doc_id, 4 + d.doc_id % 5 AS w, 3 + d.doc_id % 4 AS h,
               xs.x, ys.y,
               (d.doc_id*31 + ys.y*7 + xs.x*3) % 256 AS idx
        FROM documents d
        JOIN range(0, 8) xs(x) ON xs.x < 4 + d.doc_id % 5
        JOIN range(0, 6) ys(y) ON ys.y < 3 + d.doc_id % 4
        WHERE d.doc_id % 6 = 2
    )
),
jgray AS (
    SELECT d.doc_id, 8*(1 + d.doc_id % 3) AS w, 8*(1 + d.doc_id % 2) AS h,
           xs.x, ys.y,
           3 * (2 * ((d.doc_id*31 + (ys.y//8)*7 + (xs.x//8)*3) % 128)) AS gray
    FROM documents d
    JOIN range(0, 24) xs(x) ON xs.x < 8*(1 + d.doc_id % 3)
    JOIN range(0, 16) ys(y) ON ys.y < 8*(1 + d.doc_id % 2)
    WHERE d.doc_id % 6 = 3
),
jcblk AS (
    SELECT d.doc_id, 16*(1 + d.doc_id % 2) AS w, 16*(1 + d.doc_id % 3) AS h,
           xs.xb, ys.yb,
           2 * ((d.doc_id * 31 + ys.yb * 7 + xs.xb * 3) % 128) AS yv,
           2 * ((d.doc_id * 17 + (ys.yb // 2) * 5 + (xs.xb // 2) * 11)
                % 128) AS cbv,
           2 * ((d.doc_id * 23 + (ys.yb // 2) * 3 + (xs.xb // 2) * 13)
                % 128) AS crv
    FROM documents d
    JOIN range(0, 4) xs(xb) ON xs.xb < 2 * (1 + d.doc_id % 2)
    JOIN range(0, 6) ys(yb) ON ys.yb < 2 * (1 + d.doc_id % 3)
    WHERE d.doc_id % 6 = 4
),
jcolor AS (
    SELECT b.doc_id, b.w, b.h, xs.x, ys.y,
           (LEAST(255, GREATEST(0,
                FLOOR(yv + 1.402 * (crv - 128) + 0.5)))
            + LEAST(255, GREATEST(0,
                FLOOR(yv - 0.344136 * (cbv - 128)
                         - 0.714136 * (crv - 128) + 0.5)))
            + LEAST(255, GREATEST(0,
                FLOOR(yv + 1.772 * (cbv - 128) + 0.5)))) AS gray
    FROM jcblk b
    JOIN range(0, 32) xs(x) ON xs.x // 8 = b.xb
    JOIN range(0, 48) ys(y) ON ys.y // 8 = b.yb
),
allpx AS (
    SELECT * FROM bmpish UNION ALL SELECT * FROM gifpx
    UNION ALL SELECT * FROM jgray UNION ALL SELECT * FROM jcolor
),
cells AS (
    SELECT dd.doc_id, dd.w, dd.h, gi.i, gj.j,
           (((gi.i+1)*dd.h)//4 - (gi.i*dd.h)//4)
             * (((gj.j+1)*dd.w)//4 - (gj.j*dd.w)//4) AS area
    FROM (SELECT DISTINCT doc_id, w, h FROM allpx) dd,
         range(0, 4) gi(i), range(0, 4) gj(j)
),
cellm AS (
    -- CAST: the jcolor arm's FLOOR() promotes the unioned gray to
    -- DOUBLE, and DuckDB's // does not floor on doubles.
    SELECT c.doc_id, c.i, c.j, c.area,
           COALESCE(SUM(CAST(p.gray AS BIGINT)), 0) AS s
    FROM cells c
    LEFT JOIN allpx p ON p.doc_id = c.doc_id
        AND p.y >= (c.i*c.h)//4 AND p.y < ((c.i+1)*c.h)//4
        AND p.x >= (c.j*c.w)//4 AND p.x < ((c.j+1)*c.w)//4
    GROUP BY c.doc_id, c.i, c.j, c.area
),
m AS (
    SELECT doc_id, i, j,
           CASE WHEN area > 0 THEN s // area ELSE 0 END AS m
    FROM cellm
)
SELECT doc_id,
       SUM(m * m) / 1048576.0 AS sq_norm,
       SUM((i * 4 + j + 1) * m) / 1024.0 AS idx_dot
FROM m
GROUP BY doc_id
ORDER BY doc_id
"""
_register(
    "media_features",
    QueryDef(
        build=_media_features,
        oracle=_MEDIA_FEATURES_ORACLE,
        doc="""REAL content-derived media features: the six-format mixed media
        column (BMP/PNG/GIF/grayscale JPEG/color JPEG/TIFF) through the full
        decode cascade into embed_image_content — grayscale 4×4 grid of
        floor-mean intensities, components m/1024 (exact dyadic rationals).
        The oracle re-derives every grid cell from the per-format closed-form
        pixel values, so a flipped image, misrouted dispatch, or any decoder
        defect changes sq_norm / the index-weighted idx_dot (which pins cell
        ORDER — a transposed or mirrored grid cannot match).""",
    ),
)


def _warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    recs = warc_records(synth_warc_segments(docs), responses_only=True)
    return recs.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("capture_ts"),
        "http_status",
        "content_type",
        "etag",
        F.date_format("last_modified", "yyyy-MM-dd HH:mm:ss").alias(
            "last_modified_ts"
        ),
        "x_robots",
        F.length("html").alias("n_bytes"),
        F.md5("html").alias("body_md5"),
    ).orderBy("url")


# synth_warc_segments contract: url/date/status/ctype/body are all
# closed-form in doc_id (see its docstring); DuckDB strlen/md5 operate on
# the same UTF-8 bytes the parser extracts from the HTTP response block.
_WARC_INGEST_ORACLE = """
WITH b AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 7 = 0
              THEN 'WARC/1.0' || chr(13) || chr(10) || chr(13) || chr(10)
              ELSE '' END
           || '<html><body>' || coalesce(text, '') || '</body></html>'
           AS body
  FROM documents
)
SELECT 'http://host' || CAST(doc_id % 50 AS VARCHAR)
         || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
       strftime(TIMESTAMP '2025-01-01 00:00:00' + INTERVAL 1 SECOND * doc_id,
                '%Y-%m-%d %H:%M:%S') AS capture_ts,
       CAST(CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END AS INT)
         AS http_status,
       CASE WHEN doc_id % 5 = 0 THEN 'text/plain' ELSE 'text/html' END
         AS content_type,
       CASE WHEN doc_id % 3 <> 0
            THEN chr(34) || md5(coalesce(text, '')) || chr(34) END AS etag,
       strftime(TIMESTAMP '2025-01-01 00:00:00' + INTERVAL 1 SECOND * doc_id,
                '%Y-%m-%d %H:%M:%S') AS last_modified_ts,
       CASE WHEN doc_id % 11 = 0 THEN 'noindex' END AS x_robots,
       CAST(strlen(body) AS BIGINT) AS n_bytes,
       md5(body) AS body_md5
FROM b
ORDER BY url
"""
_register(
    "warc_ingest",
    QueryDef(
        build=_warc_ingest,
        oracle=_WARC_INGEST_ORACLE,
        doc="""WARC segment ingest (the Common-Crawl container format): documents
        → spec-correct synthesized .warc / .warc.gz segments
        (frontier.synth.synth_warc_segments) → Content-Length-framed record
        walk (frontier.warc.warc_records, shuffle-free mapInPandas) → the
        north-rule page-table projection.  The oracle re-derives every field
        in closed form from the synth contract — including bodies that embed
        the "WARC/1.0" banner, which only framing-correct parsing survives.""",
    ),
)


# WARC → CDX index writing: the missing link between segment ingest
# (warc_ingest) and the SURT range lookup (cdx_surt_lookup). Every
# response record becomes one CDX line — (surt, ts14, url, mime, status,
# digest, length) — sorted by (surt, ts14), which IS the Common-Crawl /
# Internet-Archive index file order: writing this sorted (Iceberg sort
# order / range partitioning at scale) is exactly what makes the SURT
# prefix lookup a pruned range scan. Scale shape: the record walk is the
# same shuffle-free mapInPandas scan as warc_ingest; the only exchange is
# the range sort that the index format itself demands.
def _warc_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    recs = warc_records(synth_warc_segments(docs), responses_only=True)
    recs.createOrReplaceTempView("cdx_recs")
    return spark.sql(
        """
        SELECT array_join(reverse(split(
                   regexp_extract(url, '^https?://([^/]+)', 1), '[.]')), ',')
                 || ')' || regexp_extract(url, '^https?://[^/]+(/.*)$', 1)
                 AS surt,
               date_format(warc_ts, 'yyyyMMddHHmmss') AS ts14,
               url,
               content_type AS mime,
               CAST(http_status AS INT) AS status,
               md5(html) AS digest,
               CAST(length(html) AS BIGINT) AS length
        FROM cdx_recs
        ORDER BY surt, ts14
        """
    )


# closed-form from the synth_warc_segments contract (same derivations as
# _WARC_INGEST_ORACLE; host = host{doc_id%50}.example.com, path /doc/{id})
_WARC_CDX_ORACLE = """
WITH b AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 7 = 0
              THEN 'WARC/1.0' || chr(13) || chr(10) || chr(13) || chr(10)
              ELSE '' END
           || '<html><body>' || coalesce(text, '') || '</body></html>'
           AS body
  FROM documents
)
SELECT 'com,example,host' || CAST(doc_id % 50 AS VARCHAR)
         || ')/doc/' || CAST(doc_id AS VARCHAR) AS surt,
       strftime(TIMESTAMP '2025-01-01 00:00:00' + INTERVAL 1 SECOND * doc_id,
                '%Y%m%d%H%M%S') AS ts14,
       'http://host' || CAST(doc_id % 50 AS VARCHAR)
         || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 5 = 0 THEN 'text/plain' ELSE 'text/html' END
         AS mime,
       CAST(CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END AS INT)
         AS status,
       md5(body) AS digest,
       CAST(strlen(body) AS BIGINT) AS length
FROM b
ORDER BY surt, ts14
"""
_register(
    "warc_cdx_index",
    QueryDef(build=_warc_cdx_index, oracle=_WARC_CDX_ORACLE),
)


# Engine-shared revisit classification: first capture of each payload
# digest (by capture time, then URL) stays a full `response` record, every
# later identical capture becomes a `revisit` referring to it — ISO 28500
# revisit semantics, the mechanism behind Common Crawl's digest-based
# storage dedup. One window over (body_md5) — a single hash exchange on
# the 16-byte digest; payload bytes never shuffle (the digest is computed
# scan-side and `saved_bytes` is just the already-parsed record length).
_WARC_REVISIT_SQL = """
SELECT url, capture_ts, body_md5,
       CASE WHEN rn = 1 THEN 'response' ELSE 'revisit' END AS record_type,
       CASE WHEN rn > 1 THEN f_url END AS refers_to_url,
       CASE WHEN rn > 1 THEN f_ts END AS refers_to_ts,
       CAST(CASE WHEN rn > 1 THEN n_bytes ELSE 0 END AS BIGINT)
         AS saved_bytes
FROM (
    SELECT url, capture_ts, body_md5, n_bytes,
           ROW_NUMBER() OVER (PARTITION BY body_md5
                              ORDER BY capture_ts, url) AS rn,
           FIRST_VALUE(url) OVER (PARTITION BY body_md5
                                  ORDER BY capture_ts, url) AS f_url,
           FIRST_VALUE(capture_ts) OVER (PARTITION BY body_md5
                                         ORDER BY capture_ts, url) AS f_ts
    FROM warc_caps
) x
ORDER BY url
"""


def _warc_dedup_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select("doc_id", "text")
    mirrors = (
        base.filter(F.col("doc_id") % 6 == 0)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    recs = warc_records(
        synth_warc_segments(base.unionByName(mirrors)), responses_only=True
    )
    recs.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("capture_ts"),
        F.md5("html").alias("body_md5"),
        F.length("html").alias("n_bytes"),
    ).createOrReplaceTempView("warc_caps")
    return spark.sql(_WARC_REVISIT_SQL)


_WARC_DEDUP_ORACLE = """
WITH src AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000, text FROM documents WHERE doc_id % 6 = 0
),
b AS (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0
                THEN 'WARC/1.0' || chr(13) || chr(10) || chr(13) || chr(10)
                ELSE '' END
             || '<html><body>' || coalesce(text, '') || '</body></html>'
             AS body
    FROM src
),
warc_caps AS (
    SELECT 'http://host' || CAST(doc_id % 50 AS VARCHAR)
             || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
           strftime(TIMESTAMP '2025-01-01 00:00:00'
                    + INTERVAL 1 SECOND * doc_id,
                    '%Y-%m-%d %H:%M:%S') AS capture_ts,
           md5(body) AS body_md5,
           CAST(strlen(body) AS BIGINT) AS n_bytes
    FROM b
)
""" + _WARC_REVISIT_SQL
_register(
    "warc_dedup_digest",
    QueryDef(
        build=_warc_dedup_digest,
        oracle=_WARC_DEDUP_ORACLE,
        doc="""WARC revisit-record dedup (ISO 28500 §6.7.2 revisit /
        identical-payload-digest — how Common Crawl stores recrawls): a
        recrawl pass re-captures every 6th document at a shifted id (different
        URL + later capture time, same text), segments are built and re-parsed
        through the real WARC walk, and captures sharing a payload digest
        collapse to one `response` + N `revisit` records pointing at it. The
        planted WARC/1.0 banner (doc_id % 7) makes some mirrors genuinely
        NON-duplicate — banner membership differs after the id shift — so the
        query must classify by actual payload bytes, not by provenance.""",
    ),
)


# synth_bmp_pixel_payloads: w = 4 + doc%5, h = 3 + doc%4,
# pixel(x,y)[c] = (doc*31 + y*7 + x*3 + c*5) % 256 with y from the TOP.
_MEDIA_BMP_PIXEL_ORACLE = """
WITH dims AS (
    SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
),
px AS (
    SELECT d.doc_id, d.w, d.h, xs.x, ys.y,
           (d.doc_id * 31 + ys.y * 7 + xs.x * 3) % 256 AS r,
           (d.doc_id * 31 + ys.y * 7 + xs.x * 3 + 5) % 256 AS g,
           (d.doc_id * 31 + ys.y * 7 + xs.x * 3 + 10) % 256 AS b
    FROM dims d
    JOIN range(0, 8) xs(x) ON xs.x < d.w
    JOIN range(0, 6) ys(y) ON ys.y < d.h
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(x * (r + g + b)) AS BIGINT) AS moment_x,
       CAST(SUM(y * (r + g + b)) AS BIGINT) AS moment_y
FROM px
GROUP BY doc_id, w, h
ORDER BY doc_id
"""
_register(
    "media_bmp_pixel_stats",
    QueryDef(
        build=_decoded(image_pixel_stats, synth_bmp_pixel_payloads, "doc_id"),
        oracle=_MEDIA_BMP_PIXEL_ORACLE,
        doc="""REAL pixel decode (no image library: uncompressed 24-bit BMP —
        bottom-up rows, 4-byte padding, BGR) over BMPs whose every pixel is
        closed-form; the oracle recomputes channel sums AND x/y first moments
        from the formula, so a decoder that mishandles orientation or padding
        cannot match (sums alone would be flip-invariant).""",
    ),
)


def _media_bmp_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    resized = resize_images(
        synth_bmp_pixel_payloads(docs), 4, 3, resize=resize_image_real
    )
    return image_pixel_stats(resized).orderBy("doc_id")


_MEDIA_BMP_RESIZE_ORACLE = """
WITH dims AS (
    SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
),
px AS (
    SELECT d.doc_id, xs.x, ys.y,
           (xs.x * d.w) // 4 AS sx,
           (ys.y * d.h) // 3 AS sy
    FROM dims d, range(0, 4) xs(x), range(0, 3) ys(y)
),
vals AS (
    SELECT doc_id, x, y,
           (doc_id * 31 + sy * 7 + sx * 3) % 256 AS r,
           (doc_id * 31 + sy * 7 + sx * 3 + 5) % 256 AS g,
           (doc_id * 31 + sy * 7 + sx * 3 + 10) % 256 AS b
    FROM px
)
SELECT doc_id,
       CAST(4 AS INT) AS width,
       CAST(3 AS INT) AS height,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(x * (r + g + b)) AS BIGINT) AS moment_x,
       CAST(SUM(y * (r + g + b)) AS BIGINT) AS moment_y
FROM vals
GROUP BY doc_id
ORDER BY doc_id
"""
_register(
    "media_bmp_resize_real",
    QueryDef(
        build=_media_bmp_resize_real,
        oracle=_MEDIA_BMP_RESIZE_ORACLE,
        doc="""REAL resize: decode the closed-form BMPs, nearest-neighbor resample
        to 4x3 (src = (dst*src_dim)//dst_dim), re-encode as real BMPs, decode
        AGAIN, and emit the resized pixel statistics — the oracle recomputes
        which source pixels the floor mapping selects, so the whole
        decode→resize→encode→decode chain must be bit-right.""",
    ),
)


_register(
    "media_png_pixel_stats",
    QueryDef(
        build=_decoded(image_pixel_stats, synth_png_pixel_payloads, "doc_id"),
        # same formula-derived expectation; the PNG decode path must match it
        oracle=_MEDIA_BMP_PIXEL_ORACLE,
        doc="""REAL PNG pixel decode (stdlib zlib inflate + inversion of all five
        scanline filters — the synth cycles the filter type per row, so
        None/Sub/Up/Average/Paeth all fire) over PNGs carrying the same
        closed-form pixel grid as the BMP query; same formula-derived oracle,
        entirely different decode path proving against it.""",
    ),
)


# synth_gif_pixel_payloads: idx(x,y) = (doc*31 + y*7 + x*3) % 256,
# palette[i] = (i, 2i % 256, 3i % 256) -> rgb per pixel in closed form.
_MEDIA_GIF_PIXEL_ORACLE = """
WITH dims AS (
    SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
),
px AS (
    SELECT d.doc_id, d.w, d.h, xs.x, ys.y,
           (d.doc_id * 31 + ys.y * 7 + xs.x * 3) % 256 AS idx
    FROM dims d
    JOIN range(0, 8) xs(x) ON xs.x < d.w
    JOIN range(0, 6) ys(y) ON ys.y < d.h
),
vals AS (
    SELECT doc_id, w, h, x, y,
           idx AS r, (idx * 2) % 256 AS g, (idx * 3) % 256 AS b
    FROM px
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(x * (r + g + b)) AS BIGINT) AS moment_x,
       CAST(SUM(y * (r + g + b)) AS BIGINT) AS moment_y
FROM vals
GROUP BY doc_id, w, h
ORDER BY doc_id
"""
_register(
    "media_gif_pixel_stats",
    QueryDef(
        build=_decoded(image_pixel_stats, synth_gif_pixel_payloads, "doc_id"),
        oracle=_MEDIA_GIF_PIXEL_ORACLE,
        doc="""REAL GIF pixel decode — hand-rolled variable-width LZW (dictionary
        growth, Clear/End, sub-block reassembly) + palette mapping — over GIFs
        whose index grid and palette are closed-form; the oracle recomputes the
        palette-mapped channel values per pixel.""",
    ),
)


# synth_jpeg_color_payloads: mbx = 1 + doc%2, mby = 1 + doc%3; per 8x8
# Y block (xb,yb): yv = 2*((doc*31 + yb*7 + xb*3) % 128); per MCU chroma
# (mx,my) = (xb//2, yb//2): cbv/crv by their own formulas. Each 8x8 pixel
# region is constant RGB = clip(floor(JFIF transform + 0.5)) — the exact
# arithmetic the decoder applies to integer planes, deterministic across
# engines (floor-plus-half on identical IEEE doubles).
_MEDIA_JPEG_COLOR_PIXEL_ORACLE = """
WITH dims AS (
    SELECT doc_id, 1 + doc_id % 2 AS mbx, 1 + doc_id % 3 AS mby
    FROM documents
),
blk AS (
    SELECT d.doc_id, d.mbx, d.mby, xs.xb, ys.yb,
           2 * ((d.doc_id * 31 + ys.yb * 7 + xs.xb * 3) % 128) AS yv,
           2 * ((d.doc_id * 17 + (ys.yb // 2) * 5 + (xs.xb // 2) * 11)
                % 128) AS cbv,
           2 * ((d.doc_id * 23 + (ys.yb // 2) * 3 + (xs.xb // 2) * 13)
                % 128) AS crv
    FROM dims d
    JOIN range(0, 4) xs(xb) ON xs.xb < 2 * d.mbx
    JOIN range(0, 6) ys(yb) ON ys.yb < 2 * d.mby
),
px AS (
    SELECT doc_id, mbx, mby, xb, yb,
           LEAST(255, GREATEST(0,
               FLOOR(yv + 1.402 * (crv - 128) + 0.5))) AS r,
           LEAST(255, GREATEST(0,
               FLOOR(yv - 0.344136 * (cbv - 128)
                        - 0.714136 * (crv - 128) + 0.5))) AS g,
           LEAST(255, GREATEST(0,
               FLOOR(yv + 1.772 * (cbv - 128) + 0.5))) AS b
    FROM blk
)
SELECT doc_id,
       CAST(16 * mbx AS INT) AS width,
       CAST(16 * mby AS INT) AS height,
       CAST(SUM(64 * r) AS BIGINT) AS sum_r,
       CAST(SUM(64 * g) AS BIGINT) AS sum_g,
       CAST(SUM(64 * b) AS BIGINT) AS sum_b,
       CAST(SUM(8 * (r + g + b) * (64 * xb + 28)) AS BIGINT) AS moment_x,
       CAST(SUM(8 * (r + g + b) * (64 * yb + 28)) AS BIGINT) AS moment_y
FROM px
GROUP BY doc_id, mbx, mby
ORDER BY doc_id
"""
_register(
    "media_jpeg_color_pixel_stats",
    QueryDef(
        build=_decoded(image_pixel_stats, synth_jpeg_color_payloads, "doc_id"),
        oracle=_MEDIA_JPEG_COLOR_PIXEL_ORACLE,
        doc="""REAL baseline COLOR JPEG decode — interleaved-MCU entropy decode
        across 3 components (Y 2x2 + Cb/Cr 1x1), per-component quant/Huffman
        table selection, 4:2:0 chroma upsampling, and the JFIF YCbCr→RGB
        floor(x+0.5) transform — over DCT-exact constant-block color JPEGs;
        the oracle recomputes the per-block RGB in closed form, so a wrong MCU
        order, predictor mix-up, table swap, or off-by-one in the upsample
        grid all break the hash.""",
    ),
)
_register(
    "media_jpeg_progressive_pixel_stats",
    QueryDef(
        build=_decoded(
            image_pixel_stats, synth_jpeg_progressive_payloads, "doc_id"
        ),
        # same levels, same closed form — only the container differs
        oracle=_MEDIA_JPEG_COLOR_PIXEL_ORACLE,
        doc="""REAL PROGRESSIVE JPEG decode (SOF2): eight successive-approximation
        scans — interleaved DC first (Al=1), per-component AC first scans with
        EOBn band runs, per-component AC refinements, and the DC refinement
        bit scan — accumulated into coefficient arrays and only then
        dequantized/IDCT'd. Same closed-form levels (and hence the SAME
        oracle) as media_jpeg_color_pixel_stats: only the container differs,
        so any defect in spectral selection, band runs, refinement bits, or
        scan ordering breaks the hash.""",
    ),
)


# synth_jpeg_block_payloads: bx = 1 + doc%3, by = 1 + doc%2, level(xb,yb)
# = 2*((doc*31 + yb*7 + xb*3) % 128), gray replicated to rgb. Per constant
# block: channel sum contribution 64*v; moment_x = 3v * (sum of x over the
# block's 8 columns = 64*xb + 28) * 8 rows; moment_y symmetric.
_MEDIA_JPEG_PIXEL_ORACLE = """
WITH dims AS (
    SELECT doc_id, 1 + doc_id % 3 AS bx, 1 + doc_id % 2 AS by FROM documents
),
blk AS (
    SELECT d.doc_id, d.bx, d.by, xs.xb, ys.yb,
           2 * ((d.doc_id * 31 + ys.yb * 7 + xs.xb * 3) % 128) AS v
    FROM dims d
    JOIN range(0, 3) xs(xb) ON xs.xb < d.bx
    JOIN range(0, 2) ys(yb) ON ys.yb < d.by
)
SELECT doc_id,
       CAST(8 * bx AS INT) AS width,
       CAST(8 * by AS INT) AS height,
       CAST(SUM(64 * v) AS BIGINT) AS sum_r,
       CAST(SUM(64 * v) AS BIGINT) AS sum_g,
       CAST(SUM(64 * v) AS BIGINT) AS sum_b,
       CAST(SUM(24 * v * (64 * xb + 28)) AS BIGINT) AS moment_x,
       CAST(SUM(24 * v * (64 * yb + 28)) AS BIGINT) AS moment_y
FROM blk
GROUP BY doc_id, bx, by
ORDER BY doc_id
"""
_register(
    "media_jpeg_pixel_stats",
    QueryDef(
        build=_decoded(image_pixel_stats, synth_jpeg_block_payloads, "doc_id"),
        oracle=_MEDIA_JPEG_PIXEL_ORACLE,
        doc="""REAL baseline JPEG decode — DHT canonical-Huffman parsing, byte
        unstuffing, DC sign extension, dequant, orthonormal 2D IDCT — over
        grayscale JPEGs built from DCT-exact constant blocks (DC-only, even
        levels divide the q=16 table), so the lossy format becomes closed-form
        checkable; per-block sums/moments re-derived in SQL.""",
    ),
)


# synth_ogg_payloads: channels = 1 + doc%2, rate = [8000,16000,22050,
# 44100][doc%4], n_samples = 1000 + (doc*769)%50000, n_pages = 2 + doc%3.
_MEDIA_OGG_ORACLE = """
SELECT doc_id,
       CAST(1 + doc_id % 2 AS INT) AS channels,
       CAST(([8000, 16000, 22050, 44100])[CAST(doc_id % 4 AS INT) + 1]
            AS INT) AS sample_rate_hz,
       CAST(1000 + (doc_id * 769) % 50000 AS BIGINT) AS n_samples,
       CAST((1000 + (doc_id * 769) % 50000) * 1000
            // ([8000, 16000, 22050, 44100])[CAST(doc_id % 4 AS INT) + 1]
            AS BIGINT) AS duration_ms,
       CAST(2 + doc_id % 3 AS INT) AS n_pages
FROM documents
ORDER BY doc_id
"""
_register(
    "media_ogg_metadata",
    QueryDef(
        build=_decoded(extract_ogg_metadata, synth_ogg_payloads, "doc_id"),
        oracle=_MEDIA_OGG_ORACLE,
        doc="""REAL Ogg/Vorbis container walk (RFC 3533): per-page capture
        pattern AND CRC verification (the 0x04c11db7 non-reflected page CRC,
        recomputed with the crc field zeroed), lacing-table packet
        reassembly, Vorbis identification-header parse, EOS-granule sample
        count — over CRC-correct synthesized containers with closed-form
        stream parameters. Audio DECODE stays honestly stubbed (needs
        libvorbis); the container layer is real, like the MP3 frame-header
        and AVI/RIFF walks.""",
    ),
)


# synth_gif_animation_payloads: nf = 1 + doc%4, w = 4 + doc%5,
# h = 3 + doc%4, idx(x,y,f) = (doc*31 + f*19 + y*7 + x*3) % 256,
# palette (i, 2i, 3i mod 256); full opaque frames -> canvas == frame.
_MEDIA_GIF_FRAMES_ORACLE = """
WITH dims AS (
    SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
           1 + doc_id % 4 AS nf
    FROM documents
),
px AS (
    SELECT d.doc_id, d.w, d.h, fs.f, xs.x, ys.y,
           (d.doc_id * 31 + fs.f * 19 + ys.y * 7 + xs.x * 3) % 256 AS idx
    FROM dims d
    JOIN range(0, 4) fs(f) ON fs.f < d.nf
    JOIN range(0, 8) xs(x) ON xs.x < d.w
    JOIN range(0, 6) ys(y) ON ys.y < d.h
)
SELECT doc_id,
       CAST(f AS INT) AS frame_no,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(SUM(idx) AS BIGINT) AS sum_r,
       CAST(SUM((idx * 2) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((idx * 3) % 256) AS BIGINT) AS sum_b
FROM px
GROUP BY doc_id, f, w, h
ORDER BY doc_id, frame_no
"""
_register(
    "media_gif_frame_stats",
    QueryDef(
        build=_decoded(
            gif_animation_stats, synth_gif_animation_payloads,
            "doc_id", "frame_no",
        ),
        oracle=_MEDIA_GIF_FRAMES_ORACLE,
        doc="""REAL animated-GIF frame walk: multi-frame iteration with Graphic
        Control Extension parsing, per-frame LZW decode, and canvas
        compositing (full-frame opaque disposal-1 frames here; sub-rect /
        transparency / disposal-2/3 semantics are pinned by hand-built
        payloads in tests) over NETSCAPE-looped animations whose every frame
        is closed-form; per-frame channel sums re-derived in SQL.""",
    ),
)


def _media_mixed_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return image_pixel_stats(_mixed_media_column(spark, sf_dir)).orderBy(
        "doc_id"
    )


def _mixed_arm(oracle: str, k: int, mod: int = 6) -> str:
    """One format's closed form, filtered to its doc_id slice (DuckDB
    allows a WITH-bearing query as a parenthesized derived table)."""
    body = oracle.rsplit("ORDER BY", 1)[0]
    return f"SELECT * FROM ({body}) arm{k} WHERE doc_id % {mod} = {k}"


def _media_mixed_oracle() -> str:
    arms = [
        _MEDIA_BMP_PIXEL_ORACLE,  # 0: BMP
        _MEDIA_BMP_PIXEL_ORACLE,  # 1: PNG carries the same pixel formula
        _MEDIA_GIF_PIXEL_ORACLE,  # 2
        _MEDIA_JPEG_PIXEL_ORACLE,  # 3: grayscale
        _MEDIA_JPEG_COLOR_PIXEL_ORACLE,  # 4: color
        _MEDIA_BMP_PIXEL_ORACLE,  # 5: TIFF carries the same pixel formula
    ]
    return (
        " UNION ALL ".join(_mixed_arm(o, k) for k, o in enumerate(arms))
        + " ORDER BY doc_id"
    )


_register(
    "media_mixed_pixel_stats",
    QueryDef(
        build=_media_mixed_pixel_stats,
        oracle=_media_mixed_oracle(),
        doc="""Mixed-format media column — the shape a real multimodal crawl
        produces: ONE binary column whose payloads alternate BMP / PNG
        (palette/interlaced/RGBA/truecolor) / GIF (interlaced and not) /
        grayscale JPEG / color JPEG (with restart intervals) by doc_id, with
        the decode CASCADE (magic-number dispatch) routing each payload to
        the right real decoder inside one shuffle-free kernel. The oracle is
        the per-format closed form selected by the same doc_id arithmetic —
        a dispatch that misroutes or a decoder that breaks on any one format
        fails the whole hash.""",
    ),
)


# synth_pcm_payloads: n = 50 + doc%100, sample[i] = ((doc*13 + i*17) % 4001)
# - 2000; crossings = transitions of (s < 0) between consecutive samples.
_MEDIA_WAV_PCM_ORACLE = """
WITH params AS (
    SELECT doc_id, 50 + doc_id % 100 AS n FROM documents
),
samp AS (
    SELECT p.doc_id, ii.i,
           ((p.doc_id * 13 + ii.i * 17) % 4001) - 2000 AS s
    FROM params p
    JOIN range(0, 150) ii(i) ON ii.i < p.n
),
lagged AS (
    SELECT doc_id, i, s,
           lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
    FROM samp
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(s) AS BIGINT) AS sum_amp,
       CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
       CAST(SUM(CASE WHEN prev IS NOT NULL AND ((prev < 0) <> (s < 0))
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
FROM lagged
GROUP BY doc_id
ORDER BY doc_id
"""
_register(
    "media_wav_pcm_stats",
    QueryDef(
        build=_decoded(audio_pcm_stats, synth_pcm_payloads, "doc_id"),
        oracle=_MEDIA_WAV_PCM_ORACLE,
        doc="""REAL PCM sample decode (chunk walk to the data chunk, int16 LE) over
        WAVs whose every sample is closed-form; the oracle recomputes amplitude
        sums and zero crossings from the formula — the crossing count is
        order-sensitive, so mis-framed or byte-swapped decode cannot match.""",
    ),
)


# synth_flac_payloads sample formula (see _MEDIA_FLAC_PCM_ORACLE), 16
# temporal segments [k·n//16, (k+1)·n//16), m = seg |s| floor-mean →
# sq_norm = Σ m² / 2^30, idx_dot = Σ (k+1)·m / 2^15 — dyadic-exact.
_MEDIA_AUDIO_FEATURES_ORACLE = """
WITH params AS (
    SELECT doc_id, 50 + doc_id % 100 AS n1, 10 + doc_id % 23 AS n2,
           (doc_id * 7) % 512 - 256 AS c
    FROM documents
),
samp AS (
    SELECT p.doc_id, ii.i, p.n1 + p.n2 AS n,
           ABS(CASE WHEN ii.i < p.n1
                THEN ((p.doc_id * 13 + ii.i * 17) % 4001) - 2000
                ELSE p.c END) AS a
    FROM params p
    JOIN range(0, 182) ii(i) ON ii.i < p.n1 + p.n2
),
segs AS (
    SELECT s.doc_id, ks.k,
           ((ks.k + 1) * s.n) // 16 - (ks.k * s.n) // 16 AS seglen,
           SUM(CASE WHEN s.i >= (ks.k * s.n) // 16
                     AND s.i < ((ks.k + 1) * s.n) // 16
                    THEN s.a ELSE 0 END) AS segsum
    FROM samp s, range(0, 16) ks(k)
    GROUP BY s.doc_id, ks.k, seglen
),
m AS (
    SELECT doc_id, k,
           CASE WHEN seglen > 0
                THEN CAST(segsum AS BIGINT) // seglen ELSE 0 END AS m
    FROM segs
)
SELECT doc_id,
       SUM(m * m) / 1073741824.0 AS sq_norm,
       SUM((k + 1) * m) / 32768.0 AS idx_dot
FROM m
GROUP BY doc_id
ORDER BY doc_id
"""
_register(
    "media_audio_features",
    QueryDef(
        build=_decoded(_embedding_moments, synth_flac_payloads, "doc_id"),
        oracle=_MEDIA_AUDIO_FEATURES_ORACLE,
        doc="""REAL content-derived AUDIO embeddings: synthesized FLAC streams
        through the full verified decode (CRC-8/CRC-16, all four subframe
        types) into embed_audio_content — 16 temporal segments of floor-mean
        absolute amplitude, components m/32768 (exact dyadic rationals). The
        oracle re-derives every segment from the closed-form sample formula;
        idx_dot pins segment ORDER, so a re-ordered or mis-framed decode
        cannot match.""",
    ),
)


def _ann_media_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = extract_media_features(_mixed_media_column(spark, sf_dir), dim=16)
    cells = (
        emb.select(
            "doc_id",
            F.expr(
                "transform(embedding, v -> CAST(CAST(v AS DOUBLE) * 1024.0 AS BIGINT))"
            ).alias("m"),
        )
        .withColumn(
            "n2",
            F.expr("aggregate(m, CAST(0 AS BIGINT), (a, x) -> a + x * x)"),
        )
        .filter("n2 > 0")
    )
    q = cells.filter("doc_id < 10").select(
        F.col("doc_id").alias("q_id"),
        F.col("m").alias("mq"),
        F.col("n2").alias("norm_q"),
    )
    c = cells.select(
        F.col("doc_id").alias("neighbor_id"),
        F.col("m").alias("mn"),
        F.col("n2").alias("norm_n"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter("neighbor_id <> q_id")
        .withColumn(
            "dot_m",
            F.expr(
                "aggregate(zip_with(mq, mn, (x, y) -> x * y),"
                " CAST(0 AS BIGINT), (a, x) -> a + x)"
            ),
        )
        .withColumn(
            "cosine",
            F.expr(
                "CAST(dot_m AS DOUBLE)"
                " / (sqrt(CAST(norm_q AS DOUBLE)) * sqrt(CAST(norm_n AS DOUBLE)))"
            ),
        )
    )
    return (
        scored.withColumn(
            "rk",
            F.expr(
                "CAST(row_number() OVER (PARTITION BY q_id"
                " ORDER BY cosine DESC, neighbor_id) AS BIGINT)"
            ),
        )
        .filter("rk <= 3")
        .select("q_id", "neighbor_id", "rk", "dot_m", "norm_q", "norm_n")
        .orderBy("q_id", "rk")
    )


# reuses the media_features closed-form grid CTEs (same mixed column),
# then exact integer dots/norms + the identical one-sqrt-one-divide
# cosine for ranking.
_ANN_MEDIA_TOPK_TAIL = """norms AS (
    SELECT doc_id, SUM(m * m) AS n2 FROM m GROUP BY doc_id HAVING SUM(m * m) > 0
),
dots AS (
    SELECT a.doc_id AS q_id, b.doc_id AS neighbor_id, SUM(a.m * b.m) AS dot_m
    FROM m a JOIN m b ON a.i = b.i AND a.j = b.j AND b.doc_id <> a.doc_id
    WHERE a.doc_id < 10
    GROUP BY a.doc_id, b.doc_id
),
scored AS (
    SELECT d.q_id, d.neighbor_id, d.dot_m, nq.n2 AS norm_q, nn.n2 AS norm_n,
           CAST(d.dot_m AS DOUBLE)
             / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE)))
             AS cosine
    FROM dots d
    JOIN norms nq ON nq.doc_id = d.q_id
    JOIN norms nn ON nn.doc_id = d.neighbor_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cosine DESC, neighbor_id) AS rk
    FROM scored
)
SELECT q_id, neighbor_id, CAST(rk AS BIGINT) AS rk,
       CAST(dot_m AS BIGINT) AS dot_m,
       CAST(norm_q AS BIGINT) AS norm_q,
       CAST(norm_n AS BIGINT) AS norm_n
FROM ranked WHERE rk <= 3
ORDER BY q_id, rk
"""


def _ann_media_topk_oracle() -> str:
    head = _MEDIA_FEATURES_ORACLE.rsplit("SELECT doc_id,", 1)[0]
    return head.rstrip() + ",\n" + _ANN_MEDIA_TOPK_TAIL


_register(
    "ann_media_cosine_topk",
    QueryDef(
        build=_ann_media_cosine_topk,
        oracle=_ann_media_topk_oracle(),
        doc="""ANN over REAL content-derived embeddings end to end: the
        six-format mixed media column → decode cascade → grid-intensity
        embeddings → brute-force cosine top-3 for the first ten docs (the
        ANN family's documented exact baseline; the LSH-banded scale path is
        dedup_media_embedding_cosine). All arithmetic that decides the
        ranking is exact: integer dots/norms, one correctly-rounded
        sqrt/divide per pair identical in both engines, ties broken by id —
        so the emitted (neighbor, rank) pairs are bit-stable. Scale shape:
        the query side is a 10-row broadcast; the corpus side streams
        through one projection — payloads never cross an exchange.""",
    ),
)
_register(
    "media_tiff_pixel_stats",
    QueryDef(
        build=_decoded(image_pixel_stats, synth_tiff_pixel_payloads, "doc_id"),
        oracle=_MEDIA_BMP_PIXEL_ORACLE,
        doc="""REAL TIFF pixel decode (round-5 sixth cascade format): header/IFD
        walk in BOTH byte orders (MM for doc%3==0, II otherwise), tag
        extraction, two-row strip framing, PackBits expansion (doc%2==1) —
        over TIFFs carrying the same closed-form pixel grid as the BMP
        query, so the identical oracle gates a third, entirely different
        container walk.""",
    ),
)


# synth_flac_payloads: n1 = 50 + doc%100 modulus-walk samples
# (((doc*13 + i*17) % 4001) - 2000) then n2 = 10 + doc%23 constant samples
# ((doc*7)%512 - 256); crossings span the segment boundary.
_MEDIA_FLAC_PCM_ORACLE = """
WITH params AS (
    SELECT doc_id, 50 + doc_id % 100 AS n1, 10 + doc_id % 23 AS n2,
           (doc_id * 7) % 512 - 256 AS c
    FROM documents
),
samp AS (
    SELECT p.doc_id, ii.i,
           CASE WHEN ii.i < p.n1
                THEN ((p.doc_id * 13 + ii.i * 17) % 4001) - 2000
                ELSE p.c END AS s
    FROM params p
    JOIN range(0, 182) ii(i) ON ii.i < p.n1 + p.n2
),
lagged AS (
    SELECT doc_id, i, s,
           lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
    FROM samp
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(s) AS BIGINT) AS sum_amp,
       CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
       CAST(SUM(CASE WHEN prev IS NOT NULL AND ((prev < 0) <> (s < 0))
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
FROM lagged
GROUP BY doc_id
ORDER BY doc_id
"""
_register(
    "media_flac_pcm_stats",
    QueryDef(
        build=_decoded(flac_pcm_stats, synth_flac_payloads, "doc_id"),
        oracle=_MEDIA_FLAC_PCM_ORACLE,
        doc="""REAL FLAC sample decode (round-4 verdict #5 — the one compressed
        audio codec hand-rollable from the stdlib): STREAMINFO + frame walk
        with VERIFIED CRC-8/CRC-16, CONSTANT/VERBATIM/FIXED(0-4)/LPC
        subframes, Rice residual partitions — over spec-correct synthesized
        streams whose samples are closed-form (modulus walk + constant
        tail, so all four subframe types fire). Same order-sensitive stats
        contract as media_wav_pcm_stats: a broken predictor, mis-framed
        subframe, or wrong Rice parameter changes the zero-crossing count.""",
    ),
)


# synth_bmp_neardup_payloads: base = doc - doc%3, delta = (doc%3)*2,
# w = 4 + base%5, h = 3 + base%4, pixel(x,y)[c] = (base*31+y*7+x*3+c*5+delta)
# % 256. dHash grid source pixel: sx = (gx*w)//9, sy = (gy*h)//8.
_DHASH_CTES = """
dims AS (
    SELECT doc_id,
           doc_id - doc_id % 3 AS base,
           (doc_id % 3) * 2 AS delta,
           4 + (doc_id - doc_id % 3) % 5 AS w,
           3 + (doc_id - doc_id % 3) % 4 AS h
    FROM documents
),
grid AS (
    SELECT d.doc_id, gx.x AS gx, gy.y AS gy,
           d.base * 31 + ((gy.y * d.h) // 8) * 7
             + ((gx.x * d.w) // 9) * 3 + d.delta AS k
    FROM dims d, range(0, 9) gx(x), range(0, 8) gy(y)
),
gray AS (
    SELECT doc_id, gx, gy,
           ((k % 256) + ((k + 5) % 256) + ((k + 10) % 256)) // 3 AS g
    FROM grid
),
bits AS (
    SELECT a.doc_id, a.gy, a.gx,
           CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
    FROM gray a
    JOIN gray b ON b.doc_id = a.doc_id AND b.gy = a.gy AND b.gx = a.gx + 1
    WHERE a.gx < 8
),
img_dh AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN gy < 2 THEN bit * (1 << ((gy % 2) * 8 + gx))
                         ELSE 0 END) AS BIGINT) AS b0,
           CAST(SUM(CASE WHEN gy >= 2 AND gy < 4
                         THEN bit * (1 << ((gy % 2) * 8 + gx))
                         ELSE 0 END) AS BIGINT) AS b1,
           CAST(SUM(CASE WHEN gy >= 4 AND gy < 6
                         THEN bit * (1 << ((gy % 2) * 8 + gx))
                         ELSE 0 END) AS BIGINT) AS b2,
           CAST(SUM(CASE WHEN gy >= 6 THEN bit * (1 << ((gy % 2) * 8 + gx))
                         ELSE 0 END) AS BIGINT) AS b3
    FROM bits GROUP BY doc_id
)
"""

_MEDIA_DHASH_ORACLE = (
    "WITH "
    + _DHASH_CTES
    + "SELECT doc_id, b0, b1, b2, b3 FROM img_dh ORDER BY doc_id"
)
_register(
    "media_image_dhash",
    QueryDef(
        build=_decoded(image_dhash, synth_bmp_neardup_payloads, "doc_id"),
        oracle=_MEDIA_DHASH_ORACLE,
        doc="""Perceptual difference-hash (dHash) over REAL decoded pixels: the
        standard image near-dup key at corpus scale, emitted as four 16-bit
        Hamming-LSH bands. Every stage is deterministic integer arithmetic
        (floor-mapped 9x8 resample, (r+g+b)//3 gray, adjacent-pixel
        comparisons), so the oracle re-derives all 64 bits from the synth
        pixel formula — a decoder or hasher that mishandles orientation,
        padding, or bit packing cannot match.""",
    ),
)

# Banded-Hamming pairing tail over the img_dh hash table — identical
# scheme to dedup_simhash_hamming (4 bands, pigeonhole full recall at
# distance <= 3, bucket cap against degenerate flat images), applied to
# the perceptual hash. {hk} formats to the engine's xor-popcount.
_DHASH_PAIRS_TAIL = """
bands AS (
    SELECT doc_id, b0, b1, b2, b3, band,
           CASE band WHEN 0 THEN b0 WHEN 1 THEN b1
                     WHEN 2 THEN b2 ELSE b3 END AS bval
    FROM img_dh
    CROSS JOIN (SELECT 0 AS band UNION ALL SELECT 1
                UNION ALL SELECT 2 UNION ALL SELECT 3) bs
),
buckets AS (
    SELECT band, bval FROM bands
    GROUP BY band, bval HAVING COUNT(*) BETWEEN 2 AND 256
),
inb AS (
    SELECT d.doc_id, d.b0, d.b1, d.b2, d.b3, d.band, d.bval
    FROM bands d JOIN buckets u ON d.band = u.band AND d.bval = u.bval
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
           b.b0 AS c0, b.b1 AS c1, b.b2 AS c2, b.b3 AS c3
    FROM inb a JOIN inb b
      ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST({h0} + {h1} + {h2} + {h3} AS BIGINT) AS hamming
FROM cand
WHERE {h0} + {h1} + {h2} + {h3} <= 3
ORDER BY doc_a, doc_b
"""


def _dedup_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hashes = image_dhash(synth_bmp_neardup_payloads(docs)).localCheckpoint(
        eager=True
    )
    hashes.createOrReplaceTempView("img_dh")
    return spark.sql(
        "WITH "
        + _DHASH_PAIRS_TAIL.format(
            **{f"h{k}": f"bit_count(a{k} ^ c{k})" for k in range(4)}
        )
    )


_DEDUP_DHASH_ORACLE = (
    "WITH "
    + _DHASH_CTES
    + ","
    + _DHASH_PAIRS_TAIL.format(
        **{f"h{k}": f"bit_count(xor(a{k}, c{k}))" for k in range(4)}
    )
)
_register(
    "dedup_image_dhash",
    QueryDef(
        build=_dedup_image_dhash,
        oracle=_DEDUP_DHASH_ORACLE,
        doc="""Image near-duplicate pairs: REAL pixel decode → dHash → 4x16-bit
        banded Hamming LSH → xor-popcount verify at distance <= 3. The image
        analogue of ``dedup_simhash_hamming``: candidate generation is a
        (band, value) equi-join on compact int keys — no all-pairs work, no
        pixels past the hash kernel — so the plan holds at 10^10 images. The
        hash table is localCheckpointed: it is referenced three times
        downstream (buckets + both self-join sides) and multi-referenced
        views defeat cache substitution (the pagerank_fetch_plan pathology),
        which here would re-run the decode kernel per reference.""",
    ),
)


def _dedup_media_embedding_cosine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = extract_media_features(synth_bmp_neardup_payloads(docs), dim=16)
    sk = emb.select(
        "doc_id",
        F.expr(
            "transform(embedding, v -> CAST(CAST(v AS DOUBLE) * 1024.0 AS BIGINT))"
        ).alias("m"),
    ).withColumn(
        "total", F.expr("aggregate(m, CAST(0 AS BIGINT), (a, x) -> a + x)")
    ).withColumn(
        "bands",
        F.expr(
            "transform(sequence(0, 3), b ->"
            "  (CASE WHEN 16 * element_at(m, 4*b + 1) > total THEN 1 ELSE 0 END)"
            "+ (CASE WHEN 16 * element_at(m, 4*b + 2) > total THEN 2 ELSE 0 END)"
            "+ (CASE WHEN 16 * element_at(m, 4*b + 3) > total THEN 4 ELSE 0 END)"
            "+ (CASE WHEN 16 * element_at(m, 4*b + 4) > total THEN 8 ELSE 0 END))"
        ),
    )
    banded = sk.select(
        "doc_id", "m", F.posexplode("bands").alias("band_no", "band_val")
    )
    kept = (
        banded.groupBy("band_no", "band_val")
        .count()
        .filter("count <= 64")
        .drop("count")
    )
    inb = banded.join(kept, ["band_no", "band_val"])
    pairs = (
        inb.select("band_no", "band_val", F.col("doc_id").alias("doc_a"),
                   F.col("m").alias("ma"))
        .join(
            inb.select("band_no", "band_val", F.col("doc_id").alias("doc_b"),
                       F.col("m").alias("mb")),
            ["band_no", "band_val"],
        )
        .filter("doc_a < doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    scored = pairs.select(
        "doc_a",
        "doc_b",
        F.expr(
            "aggregate(zip_with(ma, mb, (x, y) -> x * y),"
            " CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("dot_m"),
        F.expr(
            "aggregate(ma, CAST(0 AS BIGINT), (a, x) -> a + x * x)"
        ).alias("norm_a"),
        F.expr(
            "aggregate(mb, CAST(0 AS BIGINT), (a, x) -> a + x * x)"
        ).alias("norm_b"),
    )
    return scored.filter(
        "dot_m > 0 AND 10000 * dot_m * dot_m >= 9801 * norm_a * norm_b"
    ).orderBy("doc_a", "doc_b")


# Closed-form replica of the whole pipeline: neardup pixel formula →
# grid floor-means → above-mean sign bands → capped-bucket candidates →
# integer cosine filter 10^4·dot² ≥ 9801·na·nb (cos ≥ 0.99).
_DEDUP_MEDIA_EMBED_ORACLE = """
WITH d2 AS (
    SELECT doc_id, doc_id - doc_id % 3 AS base, (doc_id % 3) * 2 AS delta,
           4 + (doc_id - doc_id % 3) % 5 AS w,
           3 + (doc_id - doc_id % 3) % 4 AS h
    FROM documents
),
px AS (
    SELECT d.doc_id, d.w, d.h, xs.x, ys.y,
           ((d.base*31 + ys.y*7 + xs.x*3 + d.delta) % 256
            + (d.base*31 + ys.y*7 + xs.x*3 + 5 + d.delta) % 256
            + (d.base*31 + ys.y*7 + xs.x*3 + 10 + d.delta) % 256) AS gray
    FROM d2 d
    JOIN range(0, 8) xs(x) ON xs.x < d.w
    JOIN range(0, 6) ys(y) ON ys.y < d.h
),
cells AS (
    SELECT dd.doc_id, dd.w, dd.h, gi.i, gj.j,
           (((gi.i+1)*dd.h)//4 - (gi.i*dd.h)//4)
             * (((gj.j+1)*dd.w)//4 - (gj.j*dd.w)//4) AS area
    FROM d2 dd, range(0, 4) gi(i), range(0, 4) gj(j)
),
cellm AS (
    SELECT c.doc_id, c.i, c.j, c.area, COALESCE(SUM(p.gray), 0) AS s
    FROM cells c
    LEFT JOIN px p ON p.doc_id = c.doc_id
        AND p.y >= (c.i*c.h)//4 AND p.y < ((c.i+1)*c.h)//4
        AND p.x >= (c.j*c.w)//4 AND p.x < ((c.j+1)*c.w)//4
    GROUP BY c.doc_id, c.i, c.j, c.area
),
m AS (
    SELECT doc_id, i, j,
           CASE WHEN area > 0 THEN s // area ELSE 0 END AS m
    FROM cellm
),
tot AS (SELECT doc_id, SUM(m) AS total FROM m GROUP BY doc_id),
bits AS (
    SELECT m.doc_id, m.i * 4 + m.j AS k,
           CASE WHEN 16 * m.m > t.total THEN 1 ELSE 0 END AS bit
    FROM m JOIN tot t USING (doc_id)
),
bands AS (
    SELECT doc_id, k // 4 AS band_no,
           SUM(bit * (1 << (k % 4))) AS band_val
    FROM bits GROUP BY doc_id, k // 4
),
kept AS (
    SELECT band_no, band_val FROM bands
    GROUP BY band_no, band_val HAVING COUNT(*) <= 64
),
inb AS (SELECT b.* FROM bands b JOIN kept USING (band_no, band_val)),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM inb a JOIN inb b
      ON a.band_no = b.band_no AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
),
norms AS (SELECT doc_id, SUM(m * m) AS n2 FROM m GROUP BY doc_id),
dots AS (
    SELECT c.doc_a, c.doc_b, SUM(ma.m * mb.m) AS dot_m
    FROM cand c
    JOIN m ma ON ma.doc_id = c.doc_a
    JOIN m mb ON mb.doc_id = c.doc_b AND ma.i = mb.i AND ma.j = mb.j
    GROUP BY c.doc_a, c.doc_b
)
SELECT d.doc_a, d.doc_b,
       CAST(d.dot_m AS BIGINT) AS dot_m,
       CAST(na.n2 AS BIGINT) AS norm_a,
       CAST(nb.n2 AS BIGINT) AS norm_b
FROM dots d
JOIN norms na ON na.doc_id = d.doc_a
JOIN norms nb ON nb.doc_id = d.doc_b
WHERE d.dot_m > 0
  AND 10000 * d.dot_m * d.dot_m >= 9801 * na.n2 * nb.n2
ORDER BY doc_a, doc_b
"""


_register(
    "dedup_media_embedding_cosine",
    QueryDef(
        build=_dedup_media_embedding_cosine,
        oracle=_DEDUP_MEDIA_EMBED_ORACLE,
        doc="""Embedding-dedup over REAL content-derived vectors end to end:
        planted near-duplicate BMPs (uniform brightness shifts with mod-256
        wraparound perturbations) → the real decode cascade →
        embed_image_content grid-intensity embeddings → banded sign-sketch
        LSH (4 bands × 4 above-mean bits, capped buckets, OR-construction)
        → exact integer cosine verify: keep pairs with cos ≥ 0.99, tested as
        ``10^4·dot² ≥ 9801·‖a‖²·‖b‖²`` on the integer grid values (all
        int64-safe), so the decision and the emitted (dot, norms) are
        bit-exact. The oracle recomputes embeddings from the closed-form
        pixel formula — a decoder defect, flipped grid, or broken band join
        changes the pair set. Scale shape: equality join on (band, bucket)
        with per-bucket caps, all-pairs confined within buckets — the same
        plan as dedup_embedding_cosine, with the embedding column now
        produced from pixels instead of read from parquet.""",
    ),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: qd.build for name, qd in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: qd.oracle for name, qd in REGISTRY.items()}
