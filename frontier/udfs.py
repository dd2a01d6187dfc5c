"""Arrow-batched parse stage: one ``mapInArrow`` pass per crawl wave.

Input: pending frontier rows joined with the fetch store
(``status``/``final_url``/``content_type``/``body``; store misses are
synthesized declaratively in waves.py — the 404 fallback of the reference
test harness, tests/tree/base.py:31-39, never reaches this stage).
Output: the flat union PARSE_OUT_SCHEMA — ``node`` rows (one per consumed
pending row, with a page COUNT only) and ``child`` rows (ready-made pending
rows for the next wave with depth-limit / ancestor-cycle pre-checks already
applied). Page records leave the same expat pass through a side channel:
each task streams them to its own parquet file in the wave's page sink
(:class:`_PageSink`, schema ``PAGES_FLAT_SCHEMA``), which ``forest.pages``
reads back.

The stage is columnar end-to-end: Arrow batch in → per-column Python lists →
``pa.RecordBatch`` out. No pandas materialization, no dict-per-row churn —
at 100 TB the worker-side conversion cost is the difference between the
parse stage being CPU-bound on expat (good) or on object plumbing (bad).

All per-row work happens here, batched over Arrow; everything around it is
declarative DataFrame plumbing (SURVEY.md §2.6 "UDF surface").
"""

from __future__ import annotations

import datetime as _dt
import functools as _functools
import os
from http import HTTPStatus
from typing import Any, Iterable, Iterator

import pyarrow as pa

from . import parse as K
from .schemas import PAGES_FLAT_SCHEMA, PARSE_OUT_SCHEMA, extend_path_key
from .textnorm import decode_sitemap_body

try:  # Spark's own Catalyst→Arrow mapping keeps the schemas in lockstep
    from pyspark.sql.pandas.types import to_arrow_schema

    ARROW_OUT_SCHEMA = to_arrow_schema(PARSE_OUT_SCHEMA)
    ARROW_PAGES_SCHEMA = to_arrow_schema(PAGES_FLAT_SCHEMA)
except Exception:  # pragma: no cover - fallback for import-time environments
    ARROW_OUT_SCHEMA = None
    ARROW_PAGES_SCHEMA = None

_OUT_COLUMNS = [f.name for f in PARSE_OUT_SCHEMA.fields]

_IN_COLUMNS = [
    "seed",
    "url",
    "parent_url",
    "seq",
    "level",
    "lineage",
    "path_key",
    "parent_urls",
    "quiet_404",
    "blocked_reason",
    "final_url",
    "status",
    "content_type",
    "body",
]

_FLUSH_ROWS = 32_000


def status_message(status: int | None) -> str:
    """HTTP error text as the requests client would report it
    (usp/web_client/requests_client.py:151-176): "<code> <phrase>"."""
    if status is None:
        status = 404
    try:
        phrase = HTTPStatus(status).phrase
    except ValueError:
        phrase = "Unknown"
    return f"{status} {phrase}"


@_functools.lru_cache(maxsize=65536)
def _utc_naive_cached(wall_clock: _dt.datetime, offset_seconds: int):
    """Cached UTC conversion keyed on (naive wall clock, source offset).

    The key must include the offset explicitly: tz-aware datetimes at the
    same *instant* but different offsets (10:00+02:00 vs 08:00+00:00) hash
    and compare equal, so caching on the datetime alone would return a stale
    offset and break to_dict/to_json_tree offset round-tripping."""
    return wall_clock - _dt.timedelta(seconds=offset_seconds)


def _utc_and_offset(value: _dt.datetime | None):
    """Split an (optionally tz-aware) datetime into a UTC-naive instant plus
    the source offset in seconds (None for naive input) — see schemas.py.
    Lastmod stamps repeat heavily within a crawl, so the arithmetic is
    cached on the collision-free (wall clock, offset) key above."""
    if not value:
        # None, or the RSS/Atom set-but-empty-date quirk ("" — see
        # parse.py _FeedCollectorBase.result); datetimes are always truthy
        return None, None
    if value.tzinfo is None:
        return value, None
    offset = value.utcoffset()
    if offset is None:
        return value.replace(tzinfo=None), None
    seconds = int(offset.total_seconds())
    return _utc_naive_cached(value.replace(tzinfo=None), seconds), seconds


def _news_struct(story: dict[str, Any] | None):
    if story is None:
        return None
    publish, offset = _utc_and_offset(story.get("publish_date"))
    return {
        "title": story.get("title"),
        "publish_date": publish,
        "publish_date_offset_seconds": offset,
        "publication_name": story.get("publication_name"),
        "publication_language": story.get("publication_language"),
        "access": story.get("access"),
        "genres": story.get("genres") or [],
        "keywords": story.get("keywords") or [],
        "stock_tickers": story.get("stock_tickers") or [],
    }


def depth_exceeded_reason(child_url: str) -> str:
    """fetch_parse.py:109-112 wrapped by :754-758."""
    return (
        f"Unable to add sub-sitemap from URL {child_url}: "
        f"Recursion level exceeded {K.MAX_RECURSION_LEVEL} for URL {child_url}."
    )


def ancestor_cycle_reason(child_url: str, parent_urls: Iterable[str]) -> str:
    """fetch_parse.py:119-125 wrapped by :754-758 (set repr, as the reference
    formats its ``parent_urls`` set)."""
    return (
        f"Unable to add sub-sitemap from URL {child_url}: "
        f"Recursion detected in URL {child_url} with parent URLs {set(parent_urls)}."
    )


def redirect_cycle_reason(url: str, final_url: str, parent_urls: Iterable[str]) -> str:
    """fetch_parse.py:164-173."""
    return (
        f"Recursion detected when {url} redirected to {final_url} "
        f"with parent URLs {set(parent_urls)}."
    )


def unfetchable_reason(url: str, message: str) -> str:
    """fetch_parse.py:157-161."""
    return f"Unable to fetch sitemap from {url}: {message}"


class _Out:
    """Columnar output accumulator → Arrow RecordBatches."""

    __slots__ = tuple(_OUT_COLUMNS) + ("n",)

    def __init__(self) -> None:
        for col in _OUT_COLUMNS:
            setattr(self, col, [])
        self.n = 0

    def flush(self) -> pa.RecordBatch:
        arrays = [
            pa.array(getattr(self, f.name), type=f.type)
            for f in ARROW_OUT_SCHEMA
        ]
        batch = pa.RecordBatch.from_arrays(arrays, schema=ARROW_OUT_SCHEMA)
        self.__init__()
        return batch

    # --- row emitters (positional appends; this is the hot path) -----------

    def node(
        self,
        base: dict,
        url: str,
        kind: str,
        reason: str | None,
        n_pages: int = 0,
    ) -> None:
        self.rec.append("node")
        self.seed.append(base["seed"])
        self.url.append(url)
        self.requested_url.append(base["url"])
        self.parent_url.append(base["parent_url"])
        self.seq.append(base["seq"])
        self.level.append(base["level"])
        self.lineage.append(base["lineage"])
        self.path_key.append(base["path_key"])
        self.parent_urls.append(base["parent_urls"])
        self.kind.append(kind)
        self.reason.append(reason)
        self.quiet_404.append(base["quiet_404"])
        self.child_url.append(None)
        self.blocked_reason.append(None)
        self.n_pages.append(n_pages)
        self.n += 1

    def child(
        self,
        base: dict,
        url: str,
        child_url: str,
        seq: int,
        level: int,
        lineage: list,
        path_key: str,
        parent_urls: list,
        blocked: str | None,
    ) -> None:
        self.rec.append("child")
        self.seed.append(base["seed"])
        self.url.append(url)
        self.requested_url.append(None)
        self.parent_url.append(base["parent_url"])
        self.seq.append(seq)
        self.level.append(level)
        self.lineage.append(lineage)
        self.path_key.append(path_key)
        self.parent_urls.append(parent_urls)
        self.kind.append(None)
        self.reason.append(None)
        self.quiet_404.append(base["quiet_404"])
        self.child_url.append(child_url)
        self.blocked_reason.append(blocked)
        self.n_pages.append(0)
        self.n += 1


def process_pending_row(row: dict[str, Any], out: _Out, pages: "_PageSink") -> None:
    """Consume one pending row (+ its fetch result) → node/page/child rows."""
    base = row

    # pre-blocked children (depth limit / ancestor cycle) surface as
    # InvalidSitemap nodes without any fetch (fetch_parse.py:754-758)
    if row["blocked_reason"]:
        out.node(base, row["url"], K.KIND_INVALID, row["blocked_reason"])
        return

    status = row["status"]
    if status is None or not (200 <= status < 300):
        out.node(
            base,
            row["url"],
            K.KIND_INVALID,
            unfetchable_reason(row["url"], status_message(status)),
        )
        return

    parent_urls = row["parent_urls"]
    final_url = row["final_url"] or row["url"]
    if final_url in parent_urls:
        out.node(
            base,
            row["url"],
            K.KIND_INVALID,
            redirect_cycle_reason(row["url"], final_url, parent_urls),
        )
        return

    body = row["body"] or b""
    text = decode_sitemap_body(
        final_url, row["content_type"], bytes(body), K.MAX_SITEMAP_BYTES
    )
    # the ONLY expat pass over the body: page records go straight from the
    # parser to the sink's parquet stream and never transit node rows or get
    # re-parsed
    doc = K.parse_sitemap_text(final_url, text)

    out.node(base, final_url, doc.kind, doc.reason, len(doc.pages))
    if doc.pages:
        pages.add_doc(base["seed"], final_url, base["path_key"], doc)

    child_level = row["level"] + 1
    child_parents = parent_urls + [final_url]
    lineage = row["lineage"]
    path_key = row["path_key"]
    for i, child_url in enumerate(doc.children):
        blocked = None
        if child_level > K.MAX_RECURSION_LEVEL:
            blocked = depth_exceeded_reason(child_url)
        elif child_url in child_parents:
            blocked = ancestor_cycle_reason(child_url, child_parents)
        out.child(
            base,
            final_url,
            child_url,
            i,
            child_level,
            lineage + [i],
            extend_path_key(path_key, i),
            child_parents,
            blocked,
        )


class _PagesOut:
    """Columnar accumulator for flat page records."""

    __slots__ = tuple(f.name for f in PAGES_FLAT_SCHEMA.fields) + ("n",)

    def __init__(self) -> None:
        for f in PAGES_FLAT_SCHEMA.fields:
            setattr(self, f.name, [])
        self.n = 0

    def flush(self) -> pa.RecordBatch:
        arrays = [
            pa.array(getattr(self, f.name), type=f.type)
            for f in ARROW_PAGES_SCHEMA
        ]
        batch = pa.RecordBatch.from_arrays(arrays, schema=ARROW_PAGES_SCHEMA)
        self.__init__()
        return batch

    def add_doc(self, seed: str, sitemap_url: str, path_key: str, doc) -> None:
        """Flatten one parsed doc's page records (declaration order → seq)."""
        for seq, rec in enumerate(doc.pages):
            self.seed.append(seed)
            self.sitemap_url.append(sitemap_url)
            self.path_key.append(path_key)
            self.seq.append(seq)
            self.page_url.append(rec["url"])
            self.priority.append(rec.get("priority", K.DEFAULT_PRIORITY))
            lastmod, offset = _utc_and_offset(rec.get("last_modified"))
            self.last_modified.append(lastmod)
            self.last_modified_offset_seconds.append(offset)
            self.change_frequency.append(rec.get("change_frequency"))
            self.news_story.append(_news_struct(rec.get("news_story")))
            self.images.append(rec.get("images"))
            self.alternates.append(rec.get("alternates"))
            self.n += 1


class _PageSink:
    """Streams page records to one parquet file per task, atomically.

    The wave kernel writes pages here while it emits node/child rows through
    the normal mapInArrow channel — the side-channel that makes the crawl a
    single-expat-pass design. Records stream through a ``ParquetWriter`` in
    ``_FLUSH_ROWS`` batches (bounded memory at any partition size) into a
    dot-prefixed temp file (ignored by Spark's parquet reader if a task
    dies mid-write), then one atomic rename publishes it; task retries /
    speculative duplicates overwrite with identical bytes. The sink dir must
    be on storage the driver session can read back (same machine in local
    mode; a shared filesystem on a real cluster, like any checkpoint dir).
    """

    def __init__(self, directory: str, task_id: int) -> None:
        import uuid

        self._out = _PagesOut()
        self._dir = directory
        self._final = os.path.join(directory, f"part-{task_id:05d}.parquet")
        self._tmp = os.path.join(directory, f".part-{task_id:05d}.{uuid.uuid4().hex}.tmp")
        self._writer = None

    def add_doc(self, seed: str, sitemap_url: str, path_key: str, doc) -> None:
        self._out.add_doc(seed, sitemap_url, path_key, doc)
        if self._out.n >= _FLUSH_ROWS:
            self._write(self._out.flush())

    def _write(self, batch: pa.RecordBatch) -> None:
        import pyarrow.parquet as pq

        if self._writer is None:
            os.makedirs(self._dir, exist_ok=True)
            # zstd: ~3-5x smaller files than snappy on text-heavy page
            # records — the sink's disk writeback is what bounds crawl
            # throughput once parse runs on many cores, so bytes written
            # is the knob that matters
            self._writer = pq.ParquetWriter(
                self._tmp, ARROW_PAGES_SCHEMA, compression="zstd"
            )
        self._writer.write_batch(batch)

    def close(self) -> None:
        if self._out.n:
            self._write(self._out.flush())
        if self._writer is not None:
            self._writer.close()
            os.replace(self._tmp, self._final)

    def abort(self) -> None:
        if self._writer is not None:
            self._writer.close()
            try:
                os.remove(self._tmp)
            except OSError:
                pass


def make_parse_wave(pages_dir: str):
    """Build the mapInArrow kernel over (pending ⨝ fetches) rows.

    Full page records are side-written to one parquet file per task under
    ``pages_dir`` (see :class:`_PageSink`) — one expat pass per body."""

    def parse_wave(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        sink = _PageSink(pages_dir, ctx.partitionId() if ctx else 0)
        out = _Out()
        try:
            for batch in batches:
                names = batch.schema.names
                cols = [
                    batch.column(names.index(c)).to_pylist()
                    if c in names
                    else [None] * batch.num_rows
                    for c in _IN_COLUMNS
                ]
                for values in zip(*cols):
                    process_pending_row(dict(zip(_IN_COLUMNS, values)), out, sink)
                    if out.n >= _FLUSH_ROWS:
                        yield out.flush()
            if out.n:
                yield out.flush()
        except BaseException:
            sink.abort()
            raise
        else:
            sink.close()

    return parse_wave

