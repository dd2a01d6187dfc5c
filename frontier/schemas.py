"""Spark schemas for the frontier engine.

Flat DataFrame re-expression of the reference's object tree (SURVEY.md §1.5):
``SitemapPage`` (usp/objects/page.py:323-477) becomes PAGE_STRUCT;
``AbstractSitemap`` nodes (usp/objects/sitemap.py) become NODE rows keyed by a
sortable lineage path so the reference's depth-first ``all_pages()`` /
``all_sitemaps()`` ordering (sitemap.py:396-413) is recoverable with a plain
ORDER BY (SURVEY.md §3.4).

Timestamps are stored as UTC instants (sessions must run with
``spark.sql.session.timeZone=UTC``); the source UTC offset is carried in a
sibling ``*_offset_seconds`` column so the reference's offset-preserving
datetimes round-trip exactly.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- page record (reference SitemapPage) -------------------------------------

NEWS_STORY_STRUCT = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("publish_date", T.TimestampType()),
        T.StructField("publish_date_offset_seconds", T.IntegerType()),
        T.StructField("publication_name", T.StringType()),
        T.StructField("publication_language", T.StringType()),
        T.StructField("access", T.StringType()),
        T.StructField("genres", T.ArrayType(T.StringType())),
        T.StructField("keywords", T.ArrayType(T.StringType())),
        T.StructField("stock_tickers", T.ArrayType(T.StringType())),
    ]
)

IMAGE_STRUCT = T.StructType(
    [
        T.StructField("loc", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("geo_location", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("license", T.StringType()),
    ]
)

ALTERNATE_STRUCT = T.StructType(
    [
        T.StructField("hreflang", T.StringType()),
        T.StructField("href", T.StringType()),
    ]
)

PAGE_STRUCT = T.StructType(
    [
        T.StructField("url", T.StringType(), nullable=False),
        T.StructField("priority", T.DecimalType(3, 2)),
        T.StructField("last_modified", T.TimestampType()),
        T.StructField("last_modified_offset_seconds", T.IntegerType()),
        T.StructField("change_frequency", T.StringType()),
        T.StructField("news_story", NEWS_STORY_STRUCT),
        T.StructField("images", T.ArrayType(IMAGE_STRUCT)),
        T.StructField("alternates", T.ArrayType(ALTERNATE_STRUCT)),
    ]
)

# --- frontier work rows (pending fetches) -------------------------------------

PENDING_SCHEMA = T.StructType(
    [
        T.StructField("seed", T.StringType(), nullable=False),
        T.StructField("url", T.StringType(), nullable=False),
        T.StructField("parent_url", T.StringType()),
        T.StructField("seq", T.IntegerType(), nullable=False),
        T.StructField("level", T.IntegerType(), nullable=False),
        T.StructField("lineage", T.ArrayType(T.IntegerType()), nullable=False),
        T.StructField("path_key", T.StringType(), nullable=False),
        T.StructField("parent_urls", T.ArrayType(T.StringType()), nullable=False),
        T.StructField("quiet_404", T.BooleanType(), nullable=False),
        T.StructField("blocked_reason", T.StringType()),
    ]
)

# --- unified parse-stage output (one mapInArrow pass per wave) -----------------
#
# The wave loop moves ONLY frontier metadata. Page records do NOT cross the
# wave boundary at all — the wave kernel side-writes them straight to a
# per-wave parquet page sink from inside the Python worker (udfs._PageSink)
# and the node row carries just their COUNT (``n_pages``). Rationale,
# measured at local[32] on a 2M-page corpus: packing pages onto node rows
# made every node row a ~50 KB humongous JVM allocation, and materializing
# + re-reading those rows through per-wave snapshots cost 8-15x the parse
# itself in GC + disk churn; a lazy re-parse pass (round 1) fixed that but
# ran expat twice over every leaf body. The sink design parses each body
# exactly once, page records never transit the JVM row path at all, and
# ``forest.pages`` is a plain parquet scan (PAGES_FLAT_SCHEMA below) — the
# Spark analogue of the reference's out-of-core pages
# (usp sitemap.py:227-230).

PARSE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("rec", T.StringType(), nullable=False),  # node | child
        T.StructField("seed", T.StringType(), nullable=False),
        T.StructField("url", T.StringType()),  # node: final URL; child: owner
        T.StructField("requested_url", T.StringType()),
        T.StructField("parent_url", T.StringType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("level", T.IntegerType()),
        T.StructField("lineage", T.ArrayType(T.IntegerType())),
        T.StructField("path_key", T.StringType()),
        T.StructField("parent_urls", T.ArrayType(T.StringType())),
        T.StructField("kind", T.StringType()),
        T.StructField("reason", T.StringType()),
        T.StructField("quiet_404", T.BooleanType()),
        T.StructField("child_url", T.StringType()),
        T.StructField("blocked_reason", T.StringType()),
        T.StructField("n_pages", T.IntegerType()),
    ]
)

# --- page sink records (flat, one row per page record) -------------------------

PAGES_FLAT_SCHEMA = T.StructType(
    [
        T.StructField("seed", T.StringType(), nullable=False),
        T.StructField("sitemap_url", T.StringType(), nullable=False),
        T.StructField("path_key", T.StringType(), nullable=False),
        T.StructField("seq", T.IntegerType(), nullable=False),
        T.StructField("page_url", T.StringType(), nullable=False),
        T.StructField("priority", T.DecimalType(3, 2)),
        T.StructField("last_modified", T.TimestampType()),
        T.StructField("last_modified_offset_seconds", T.IntegerType()),
        T.StructField("change_frequency", T.StringType()),
        T.StructField("news_story", NEWS_STORY_STRUCT),
        T.StructField("images", T.ArrayType(IMAGE_STRUCT)),
        T.StructField("alternates", T.ArrayType(ALTERNATE_STRUCT)),
    ]
)

# --- synthetic fetch store (requests_mock replacement; FIXTURES.md §1) ---------

FETCHES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), nullable=False),
        T.StructField("final_url", T.StringType()),  # post-redirect; null → url
        T.StructField("status", T.IntegerType(), nullable=False),
        T.StructField("content_type", T.StringType()),
        T.StructField("body", T.BinaryType()),
    ]
)

# --- pages corpus (BASELINE.json input_hint) -----------------------------------

PAGES_CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), nullable=False),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def path_segment(seq: int) -> str:
    """One zero-padded lineage segment; lexicographic order == numeric order."""
    return f"{seq:07d}"


def extend_path_key(parent_key: str, seq: int) -> str:
    """Child sort key under ``parent_key`` (depth <= 12, so keys stay tiny)."""
    seg = path_segment(seq)
    return f"{parent_key}.{seg}" if parent_key else seg
