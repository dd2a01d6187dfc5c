"""The wave engine: the reference's recursive DFS fetch loop re-expressed as
breadth-first DataFrame waves over a frontier table.

Reference lifecycle (usp/tree.py:42-130 + usp/fetch_parse.py): a Python call
stack fetches one sitemap at a time, depth-first. Here each *wave* fetches and
parses every pending sitemap of one recursion level in parallel:

    pending --(semi-join filter)--> fetch store scan --(broadcast join)-->
    mapInArrow parse kernel --> node/page/child rows --> next wave's pending

Depth-first output ordering is recovered by sorting on a zero-padded lineage
``path_key`` (SURVEY.md §3.4), so results are byte-identical to the
single-threaded reference while execution is fully parallel.

Scale notes (100 TB fetch store, 10^10-URL frontier):

- The fetch store is only ever scanned with a broadcast semi-join on the
  current wave's URLs → no shuffle of the big table, column pruning keeps
  ``body`` reads limited to matched rows' row groups.
- Each wave is snapshotted to parquet (``checkpoint_dir``) → plan lineage is
  truncated, the job is resumable from any completed wave, and per-wave
  metrics are inspectable.
- Waves are bounded: depth limit 11 (fetch_parse.py:69) → at most 13 jobs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable, Iterable, Sequence

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from . import parse as K
from .schemas import (
    PAGES_FLAT_SCHEMA,
    PARSE_OUT_SCHEMA,
    path_segment,
)
from .textnorm import is_http_url, strip_url_to_homepage
from .udfs import make_parse_wave

#: Well-known sitemap locations probed besides robots.txt
#: (usp/tree.py:23-38 ``_UNPUBLISHED_SITEMAP_PATHS``).
KNOWN_SITEMAP_PATHS = frozenset(
    {
        "sitemap.xml",
        "sitemap.xml.gz",
        "sitemap_index.xml",
        "sitemap-index.xml",
        "sitemap_index.xml.gz",
        "sitemap-index.xml.gz",
        ".sitemap.xml",
        "sitemap",
        "admin/config/search/xmlsitemap",
        "sitemap/sitemap-index.xml",
        "sitemap_news.xml",
        "sitemap-news.xml",
        "sitemap_news.xml.gz",
        "sitemap-news.xml.gz",
    }
)

RecurseFilter = Callable[[DataFrame], DataFrame]

#: Per-URL recursion predicate, the reference's ``recurse_callback``
#: (usp/tree.py:48, usp/fetch_parse.py:275-283): called once per candidate
#: child with (url, recursion_level, parent_urls); return False to skip
#: fetching that sub-sitemap. The child is dropped entirely (it does not
#: appear in the forest), matching tests/tree/test_opts.py:29-43.
RecurseCallback = Callable[[str, int, set], bool]


def recurse_callback_filter(callback: RecurseCallback) -> RecurseFilter:
    """Adapt a per-URL predicate to the engine's DataFrame-level hook.

    The predicate is arbitrary Python, so it runs as an Arrow-batched pandas
    UDF over the wave's *children slice only* — a thin metadata frame (url,
    level, parents), never bodies — which keeps the slow path off the
    dominant data even at full scale.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _keep(url: pd.Series, level: pd.Series, parents: pd.Series) -> pd.Series:
        return pd.Series(
            [
                bool(callback(u, int(lv), set(ps) if ps is not None else set()))
                for u, lv, ps in zip(url, level, parents)
            ]
        )

    def _filter(children: DataFrame) -> DataFrame:
        return children.filter(
            _keep(F.col("child_url"), F.col("level"), F.col("parent_urls"))
        )

    return _filter

#: Cap on Arrow batch bytes entering the parse kernel. Spark's default
#: batching is row-count-based (10k rows/batch): with ~60 KB sitemap bodies
#: that is ~600 MB per batch — per task — and the resulting humongous
#: JVM/off-heap allocations measured 3-4x slower end-to-end (kernel page
#: management dominates; sys-time 45-65%). 16 MB keeps a 32-task stage's
#: in-flight batches in the hundreds of MB and is far above any metadata
#: row's size, so thin-row stages are unaffected.
_ARROW_BATCH_BYTES = str(16 * 1024 * 1024)


class _arrow_byte_batches:
    """Scoped override of spark.sql.execution.arrow.maxBytesPerBatch."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark

    def __enter__(self) -> None:
        conf = self.spark.conf
        key = "spark.sql.execution.arrow.maxBytesPerBatch"
        self._key = key
        self._prev = conf.get(key, None)
        conf.set(key, _ARROW_BATCH_BYTES)

    def __exit__(self, *exc) -> None:
        if self._prev is None:
            self.spark.conf.unset(self._key)
        else:
            self.spark.conf.set(self._key, self._prev)


def _free(df: DataFrame) -> None:
    """Drop a persisted or locally checkpointed frame's blocks now.

    ``DataFrame.unpersist`` frees a persist, but a ``localCheckpoint``'s
    blocks belong to the RDD under its plan's ``LogicalRDD`` leaf, which
    Spark otherwise frees only once the JVM garbage-collects that RDD."""
    df.unpersist(blocking=False)
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def _tz_aware(naive, offset_seconds):
    """Rebuild the reference's offset-preserving datetime from the engine's
    (UTC-naive instant, source offset) column pair — see schemas.py."""
    import datetime as _dt

    if naive is None or offset_seconds is None:
        return naive
    return naive.replace(tzinfo=_dt.timezone.utc).astimezone(
        _dt.timezone(_dt.timedelta(seconds=offset_seconds))
    )

_NODE_COLS = [
    "seed",
    "url",
    "requested_url",
    "parent_url",
    "seq",
    "level",
    "lineage",
    "path_key",
    "kind",
    "reason",
    "n_pages",
]


@dataclass
class SitemapForest:
    """Flat-table result of a crawl: the reference's object tree as DataFrames.

    ``nodes``: one row per sitemap node (website roots, robots, indexes,
    page leaves, invalids) with sortable ``path_key`` + ``depth``.
    ``pages``: one row per extracted page record with owning-sitemap lineage.
    """

    nodes: DataFrame
    pages: DataFrame
    wave_metrics: DataFrame | None = None
    #: directory holding the crawl's page parquet files (side-written by the
    #: wave kernel); a temp dir owned by the forest unless the caller gave a
    #: checkpoint_dir (then it lives under it and survives for resume)
    pages_dir: str | None = None
    _owns_pages_dir: bool = False
    #: frames the wave loop materialized (persisted frontiers, parse
    #: snapshots); the forest's DataFrames read them until unpersist()
    _wave_frames: list[DataFrame] = field(default_factory=list)

    def all_sitemaps(self) -> DataFrame:
        """Pre-order traversal (usp sitemap.py:405-413), roots excluded per
        seed ordering; equals reference ``all_sitemaps()`` flattened."""
        return self.nodes.orderBy("seed", "path_key")

    def all_pages(self) -> DataFrame:
        """DFS page stream (usp sitemap.py:113-119, 396-403): declaration
        order within a sitemap, depth-first across sitemaps, cross-sitemap
        duplicates retained."""
        return self.pages.orderBy("seed", "path_key", "seq")

    def unpersist(self, delete_pages: bool = True) -> None:
        """Release the forest's resources: the cached nodes table, the wave
        loop's persisted frontiers and parse snapshots, and (for forests
        that own a temp page dir) the page parquet files. After this the
        ``pages`` DataFrame is dead; long-lived sessions running many
        crawls should call this when done with a forest."""
        self.nodes.unpersist(blocking=False)
        for frame in self._wave_frames:
            _free(frame)
        self._wave_frames = []
        if delete_pages and self._owns_pages_dir and self.pages_dir:
            import shutil

            shutil.rmtree(self.pages_dir, ignore_errors=True)

    close = unpersist

    def to_dict(self, with_pages: bool = True) -> list[dict]:
        """Nested-dict export per seed — key/value parity with the reference
        ``to_dict`` sink (usp/objects/sitemap.py:88-98, 175-179, 271-279,
        374-381; usp/objects/page.py:441-455): node dicts carry ``url`` (+
        ``reason`` for invalids, ``pages`` for page leaves, ``sub_sitemaps``
        for indexes), page dicts carry url/priority/last_modified/
        change_frequency/news_story/images with offset-aware datetimes
        reconstructed from the ``*_offset_seconds`` columns. Collects to the
        driver; meant for small trees (``to_json_tree`` scales)."""
        nodes = self.all_sitemaps().collect()
        pages = self.all_pages().collect() if with_pages else []

        pages_by_node: dict[tuple, list] = {}
        for p in pages:
            story = None
            if p.news_story:
                story = {
                    "title": p.news_story.title,
                    "publish_date": _tz_aware(
                        p.news_story.publish_date,
                        p.news_story.publish_date_offset_seconds,
                    ),
                    "publication_name": p.news_story.publication_name,
                    "publication_language": p.news_story.publication_language,
                    "access": p.news_story.access,
                    "genres": list(p.news_story.genres or []),
                    "keywords": list(p.news_story.keywords or []),
                    "stock_tickers": list(p.news_story.stock_tickers or []),
                }
            pages_by_node.setdefault((p.seed, p.path_key), []).append(
                {
                    "url": p.page_url,
                    "priority": p.priority,
                    "last_modified": _tz_aware(
                        p.last_modified, p.last_modified_offset_seconds
                    ),
                    "change_frequency": p.change_frequency,
                    "images": [i.asDict() for i in p.images] if p.images else None,
                    "news_story": story,
                }
            )

        by_key: dict[tuple, dict] = {}
        roots: list[dict] = []
        for n in nodes:
            entry: dict = {"url": n.url}
            if n.kind == K.KIND_INVALID:
                entry["reason"] = n.reason
            if n.kind in K.PAGE_KINDS and with_pages:
                entry["pages"] = pages_by_node.get((n.seed, n.path_key), [])
            if n.kind in K.INDEX_KINDS:
                entry["sub_sitemaps"] = []
            by_key[(n.seed, n.path_key)] = entry
            if n.path_key == "":
                roots.append(entry)
            else:
                parent_key = n.path_key.rsplit(".", 1)[0] if "." in n.path_key else ""
                parent = by_key.get((n.seed, parent_key))
                if parent is not None:
                    parent.setdefault("sub_sitemaps", []).append(entry)
        return roots

    def to_json_tree(self, with_pages: bool = True) -> DataFrame:
        """Distributed nested export: one JSON document per seed with the
        exact ``to_dict`` key layout, built bottom-up with per-depth
        aggregations — page records never touch the driver (T5 at scale;
        the reference's ``to_dict`` is driver-side only). Returns a
        DataFrame ``(seed, json)``. Datetimes render as ISO-8601 with the
        source UTC offset restored (naive when the source had no zone)."""
        return _to_json_tree(self, with_pages)


#: Partition column of a suffix-clustered fetch store (cluster_fetch_store).
FETCH_BUCKET_COL = "url_bucket"
#: Fixed bucket count — part of the store format, NOT a tunable: the probe
#: side must reproduce the store's bucketing from the URL alone, so the
#: modulus cannot vary per store. 64 directories is coarse enough for any
#: store size (each holds arbitrarily many files) and fine enough that a
#: homogeneous wave prunes ~63/64 of unrelated payload bytes.
N_FETCH_BUCKETS = 64
#: Suffix window the bucket hashes. Crawl waves are homogeneous in URL *path
#: suffix* (every robots.txt probe ends "robots.txt", index waves end
#: ".xml"/".xml.gz" variants), so hashing the last 12 characters clusters
#: rows the same wave will want into the same partitions.
_FETCH_BUCKET_SUFFIX = 12


def fetch_bucket(url_col):
    """Suffix-cluster bucket of a URL: hash of its last 12 characters, mod 64.

    A pure column expression, so the wave loop can recompute it on the probe
    side and statically prune store partitions — the mechanism that lets a
    robots.txt wave against a 100 TB store read kilobytes instead of
    scanning every payload body (parquet reads whole row groups per
    projected column; without directory-level pruning, every wave pays the
    full body-column decompress of the store)."""
    return F.pmod(
        F.xxhash64(F.substring(F.reverse(url_col), 1, _FETCH_BUCKET_SUFFIX)),
        F.lit(N_FETCH_BUCKETS),
    ).cast("int")


#: Marker file recording a verified all-URLs-unique fetch store (written by
#: cluster_fetch_store, honored by open_fetch_store and the crawl entry's
#: store_urls_unique=None auto-detection).
URLS_UNIQUE_MARKER = "_URLS_UNIQUE"


def _marker_path(store_path: str) -> str | None:
    """Local filesystem path of the uniqueness marker, or None for remote
    URIs (hdfs://, s3a://…) where the hint is session-only — the attribute
    on the returned DataFrame still carries it."""
    if "://" in store_path and not store_path.startswith("file://"):
        return None
    return os.path.join(store_path.removeprefix("file://"), URLS_UNIQUE_MARKER)


def cluster_fetch_store(
    fetches: DataFrame, path: str, mode: str = "overwrite",
    verify_unique: bool = True,
) -> DataFrame:
    """Materialize a fetch store clustered for wave-pruned scans.

    Writes ``path`` partitioned by ``url_bucket`` (URL-suffix hash bucket,
    see ``fetch_bucket``), sorted by ``url`` within files (row-group min/max
    stats stay tight for future finer pruning). The wave loop detects the
    ``url_bucket`` column on any store and pre-filters the scan to the
    current wave's buckets — a directory-level partition prune, the only
    scan-avoidance mechanism that needs no literal predicates and works at
    any wave size. One-time cost: a full shuffle of the store, amortized
    over every wave of every crawl that reads it (a crawl is ≤ 26 scans).

    With ``verify_unique`` (default), URL uniqueness is checked once at
    store-prep time — a url-column-only scan + partial-agg, negligible next
    to the write's full shuffle — and recorded as store metadata (a
    ``_URLS_UNIQUE`` marker file plus a hint attribute on the returned
    DataFrame). The crawl entry's ``store_urls_unique=None`` auto-detection
    reads the hint, so a unique store never pays the per-wave ``max_by``
    body exchange (round-2 verdict #4): the wave plan is scan → broadcast
    probe → parse with bodies never entering an exchange.

    Returns the read-back DataFrame (carrying the uniqueness hint).
    """
    (
        fetches.withColumn(FETCH_BUCKET_COL, fetch_bucket(F.col("url")))
        # second repartition key fans each bucket out over ~8 writer tasks →
        # ~8 files per bucket directory. One-file buckets cap a wave's scan
        # at the file's row-group count — fatal for small-body waves (a
        # robots wave's whole bucket can be a single sub-2MB row group, so
        # the entire wave would parse 1-wide regardless of cluster size).
        .repartition(
            F.col(FETCH_BUCKET_COL), F.pmod(F.xxhash64("url"), F.lit(8))
        )
        .sortWithinPartitions("url")
        .write.mode(mode)
        .partitionBy(FETCH_BUCKET_COL)
        # Small row groups are what make bucket files SPLITTABLE: parquet
        # scans split on row-group boundaries only, so the default 128 MB
        # groups cap a bucket file's scan parallelism at size/128MB tasks —
        # a homogeneous wave (all bodies in a handful of buckets) then
        # parses ~4-wide regardless of cluster size. 2 MB compressed groups
        # keep every wave's scan as wide as the executor count while still
        # amortizing footer/stats overhead.
        .option("parquet.block.size", str(2 * 1024 * 1024))
        .parquet(path)
    )
    store = fetches.sparkSession.read.parquet(path)
    if verify_unique:
        unique = (
            store.select("url")
            .groupBy("url")
            .count()
            .filter(F.col("count") > 1)
            .isEmpty()
        )
        marker = _marker_path(path)
        if marker is not None:
            if unique:
                with open(marker, "w") as fh:
                    fh.write("verified by cluster_fetch_store\n")
            elif os.path.exists(marker):  # re-written store lost uniqueness
                os.remove(marker)
        store._frontier_urls_unique = unique
    return store


def open_fetch_store(spark: SparkSession, path: str) -> DataFrame:
    """Open a fetch store written by :func:`cluster_fetch_store`, restoring
    its verified-uniqueness hint from the ``_URLS_UNIQUE`` marker so
    ``sitemap_tree_for_homepages(store_urls_unique=None)`` auto-selects the
    no-dedup wave plan."""
    store = spark.read.parquet(path)
    marker = _marker_path(path)
    store._frontier_urls_unique = bool(marker and os.path.exists(marker))
    return store


def prepare_fetches(fetches: DataFrame, resolve_redirects: bool = True) -> DataFrame:
    """Normalize a fetch store: final_url defaulted, 3xx chains resolved.

    The synthetic store plays the role of the live HTTP boundary
    (requests client, usp/web_client/requests_client.py:140-176). A 3xx row's
    ``final_url`` is the Location target; resolution follows the chain the
    way ``requests`` does transparently, recording the last hop's URL as the
    response URL (consumed by the redirect-cycle check,
    fetch_parse.py:164-173). Resolution is body-free: the emptiness probe
    and the chain walk read metadata columns only, and only the (small)
    redirect mapping is ever broadcast — safe to leave on against a 100 TB
    store.

    URL uniqueness is NOT enforced here — a global ``dropDuplicates`` would
    shuffle every payload body in the store on every wave. Duplicates are
    dropped per wave on the (tiny) matched slice in ``_fetch_join`` instead.

    The store is never cached: the scan plan stays untouched (per-wave
    broadcast semi-joins against a partition-pruned store — the only
    feasible plan at 100 TB; also measured FASTER than the columnar cache
    at bench scale, where decompressed-body caching costs more in memory
    pressure than it saves in IO).
    """
    cols = dict.fromkeys(fetches.columns)
    out = fetches
    if "attempt" in cols:
        # S2: attempt-coded store → collapse to the row the reference's
        # retry loop would return (usp/helpers.py:151-195); see retry.py
        from .retry import resolve_attempts

        out = resolve_attempts(out)
    if "final_url" not in cols:
        out = out.withColumn("final_url", F.col("url"))
    else:
        out = out.withColumn("final_url", F.coalesce("final_url", "url"))
    if "content_type" not in cols:
        out = out.withColumn("content_type", F.lit(None).cast("string"))
    if "body" not in cols:
        out = out.withColumn("body", F.lit(None).cast("binary"))
    keep = ["url", "final_url", "status", "content_type", "body"]
    if FETCH_BUCKET_COL in cols:
        # suffix-clustered store (cluster_fetch_store): the partition column
        # rides along so the wave loop can prune scans per wave
        keep.append(FETCH_BUCKET_COL)
    out = out.select(*keep)
    if resolve_redirects:
        # emptiness probe = one full scan when there are no 3xx rows; pass
        # resolve_redirects=False for a store known to be pre-resolved
        # (e.g. an offline-resolved Iceberg store, or a synthetic corpus)
        out = _resolve_redirects(out)
    return out


def _is_redirect():
    return (F.col("status") >= 300) & (F.col("status") < 400)


def _resolve_redirects(fetches: DataFrame, max_hops: int = 10) -> DataFrame:
    """Rewrite 3xx rows to their ultimate target's response.

    Body-free by construction (the round-1 version broadcast the whole
    terminal store, bodies included, once per hop): the chain walk runs
    entirely over the (url, final_url) METADATA of the redirect subset —
    assumed broadcastable, sitemap redirects are rare — producing a small
    (src → landing) mapping. The payload-carrying store is then scanned
    exactly once more, with the mapping broadcast onto it; bodies never
    enter an exchange. At true 10^10 scale pre-resolve offline and skip
    this (rows arrive with 2xx/4xx only, which short-circuits below at the
    cost of one status-column-only probe).
    """
    redirects = fetches.filter(_is_redirect())
    if redirects.select("url").isEmpty():
        return fetches
    terminal = fetches.filter(~_is_redirect())

    # a clustered store's bucket is keyed on the REQUESTED url (the join
    # key), so relabeled rows must carry the 3xx source row's bucket, not
    # the landing row's — propagate it through the chain walk
    has_bucket = FETCH_BUCKET_COL in fetches.columns
    bucket_cols = [FETCH_BUCKET_COL] if has_bucket else []
    redirect_meta = redirects.select("url", "final_url", *bucket_cols)
    terminal_urls = terminal.select("url")
    # chain state: requested url -> current hop target (metadata only)
    chain = redirect_meta.select(
        "url", F.col("final_url").alias("hop"), *bucket_cols
    )
    mapping = None  # (src url, landing url)
    for _ in range(max_hops):
        landed = chain.join(
            F.broadcast(terminal_urls.withColumnRenamed("url", "hop")), "hop"
        ).select("url", F.col("hop").alias("landing"), *bucket_cols)
        mapping = landed if mapping is None else mapping.unionByName(landed)
        chain = chain.join(
            F.broadcast(
                redirect_meta.select(F.col("url").alias("hop"), "final_url")
            ),
            "hop",
        ).select("url", F.col("final_url").alias("hop"), *bucket_cols)
        if chain.isEmpty():
            break
    if mapping is None:
        return terminal
    # one body-carrying scan: terminal rows relabeled under their redirect
    # sources ride along with the originals; only `mapping` is broadcast
    srcs = mapping.select(
        F.col("url").alias("src_url"),
        F.col("landing").alias("t_url"),
        *(F.col(c).alias(f"src_{c}") for c in bucket_cols),
    )
    relabeled = terminal.join(
        F.broadcast(srcs), terminal["url"] == srcs["t_url"]
    ).select(
        F.col("src_url").alias("url"),
        F.col("t_url").alias("final_url"),
        "status",
        "content_type",
        "body",
        *(F.col(f"src_{c}").alias(c) for c in bucket_cols),
    )
    # chains that never land (loops / missing targets) simply drop out and
    # behave as 404s downstream, matching the mock fallback matcher
    return terminal.unionByName(relabeled)


#: Per-wave timing telemetry of the most recent crawl on this driver:
#: one ``{"phase", "wave", "seconds"}`` dict per completed wave, cleared
#: by :func:`sitemap_tree_for_homepages` at crawl start. Feeds the
#: depth-stress bench's per-wave fixed-cost measurement; last crawl wins
#: (benches never run crawls concurrently on one driver).
LAST_WAVE_TIMINGS: list[dict] = []


class _WaveRunner:
    """Runs the bounded wave loop for one phase, accumulating parse output."""

    def __init__(
        self,
        spark: SparkSession,
        fetches: DataFrame,
        recurse_filter: RecurseFilter | None,
        checkpoint_dir: str | None,
        phase: str,
        pages_dir: str,
        resume: bool = False,
        store_urls_unique: bool = False,
        seen_filter=None,
    ) -> None:
        self.spark = spark
        self.fetches = fetches
        self.recurse_filter = recurse_filter
        self.checkpoint_dir = checkpoint_dir
        self.phase = phase
        self.resume = resume
        self.store_urls_unique = store_urls_unique
        self.pages_dir = pages_dir
        #: R8 cross-crawl URL-seen filter (UrlSeenSet.prepare_filter):
        #: applied in EVERY frontier close, so already-seen sitemap URLs are
        #: never re-fetched across seeds/crawl rounds (north rule)
        self.seen_filter = seen_filter
        self.wave_outputs: list[DataFrame] = []
        #: frames this runner materialized; the forest frees them
        self.wave_frames: list[DataFrame] = []

    def _wave_committed(self, wave: int) -> bool:
        """True iff this wave's snapshot is committed and may be reused
        (resume mode with a checkpoint dir only)."""
        if not (self.checkpoint_dir and self.resume):
            return False
        return os.path.exists(
            os.path.join(
                self.checkpoint_dir, f"phase={self.phase}", f"wave={wave}", "_SUCCESS"
            )
        )

    def _pages_wave_dir(self, wave: int) -> str:
        return os.path.join(self.pages_dir, f"phase={self.phase}", f"wave={wave}")

    def _snapshot(self, df: DataFrame, wave: int, skip_recompute: bool) -> DataFrame:
        """Materialize one wave's parse output, truncating plan lineage.

        With a checkpoint dir this is a resumable parquet snapshot
        (north rule: per-wave snapshots + resumability) — with ``resume``,
        an already-committed wave is read back instead of recomputed
        (``skip_recompute``), so a crashed crawl restarts from its last
        completed wave; the wave's side-written page files survive with it
        (they were complete before _SUCCESS appeared). Without a dir,
        localCheckpoint at DISK_ONLY: the on-heap memory store serializes
        concurrent block writes badly (measured 8× slower than DISK_ONLY at
        32 writer threads on a page-heavy wave — allocation/GC contention),
        while DISK_ONLY streams through the OS page cache and scales with
        cores.
        """
        if self.checkpoint_dir:
            path = os.path.join(self.checkpoint_dir, f"phase={self.phase}", f"wave={wave}")
            if not skip_recompute:
                df.write.mode("overwrite").parquet(path)
            return self.spark.read.schema(PARSE_OUT_SCHEMA).parquet(path)
        # EAGER deliberately: a lazy checkpoint here would defer the parse
        # computation into the pending-frontier close action, whose narrow
        # coalesce(small_cap) caps the combined job at small_cap tasks —
        # throttling the parse stage to a fraction of the cores whenever
        # small_cap < parallelism (measured as the round-5 lazy-variant
        # trap at local[32]). The parse job must run at its own width.
        snapshot = df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        self.wave_frames.append(snapshot)
        return snapshot

    def run(self, pending: DataFrame) -> None:
        with _arrow_byte_batches(self.spark):
            self._run(pending)

    def _close(self, pending: DataFrame) -> tuple[DataFrame, list[int], int]:
        """Close a frontier in ONE action: drop already-seen URLs, persist
        the survivors and compute their bucket histogram.

        The histogram is the emptiness check, the size that sets the next
        parse width and the next scan's bucket-pruning list, all exact for
        the filtered frontier. Every consumer of the frontier (fetch join,
        miss nodes at assembly) reads the persisted result, so the seen
        filter runs once per wave. Lineage stays bounded: the frontier is
        one narrow hop off the previous wave's parse snapshot (or the seed
        frame)."""
        if self.seen_filter is not None:
            # skipped URLs simply don't appear in this crawl's forest
            pending = self.seen_filter(pending)
        pending = pending.persist(StorageLevel.DISK_ONLY)
        self.wave_frames.append(pending)
        rows = (
            pending.groupBy(fetch_bucket(F.col("url")).alias("b"))
            .count()
            .collect()
        )
        return pending, [r["b"] for r in rows], sum(r["count"] for r in rows)

    def _run(self, pending: DataFrame) -> None:
        import time

        wave = 0
        # small-side partition cap: pending/node/child rows are tiny and feed
        # broadcasts + driver checks; scanning them over the parse stage's
        # wide partitioning would cost a task launch (~10 ms) per near-empty
        # partition, in every consumer of the frontier
        small_cap = max(8, self.spark.sparkContext.defaultParallelism // 4)
        # assembly keeps enough width for downstream sorts/writes to use
        # every core on their map side
        assembly_cap = max(small_cap, self.spark.sparkContext.defaultParallelism // 2)
        t0 = time.perf_counter()
        # the seed frontier goes through the same close as every later one
        pending, buckets, pending_rows = self._close(pending)
        if not pending_rows:
            # nothing to fetch (e.g. every seed URL already seen): wave 0
            # still counts, but runs no scan, parse or close
            self._record(wave, t0, t0, time.perf_counter())
            return
        while True:
            fetchable = pending.filter("blocked_reason IS NULL")
            blocked = pending.filter("blocked_reason IS NOT NULL")
            joined = self._fetch_join(fetchable, blocked, buckets, pending_rows)
            skip = self._wave_committed(wave)
            pages_dir = self._pages_wave_dir(wave)
            if not skip:
                # recomputing: clear stale page files (a previous run at a
                # different partitioning would otherwise leave orphans that
                # duplicate pages on read-back)
                import shutil

                shutil.rmtree(pages_dir, ignore_errors=True)
            parsed = self._snapshot(
                joined.mapInArrow(make_parse_wave(pages_dir), PARSE_OUT_SCHEMA),
                wave,
                skip,
            )
            # store misses (the mock harness's 404 fallback,
            # tests/tree/base.py:31-39): pending rows whose URL produced no
            # node row. Derived from the (checkpointed) parse output instead
            # of a second store scan — at a 100 TB store the extra
            # broadcast-subquery scan per wave was the single biggest fixed
            # cost. NOT checkpointed (round-4 verdict #3): both inputs
            # (parse snapshot, persisted frontier) are already materialized
            # with truncated lineage, so the assembly-time recompute is a
            # tiny broadcast anti-join — while the per-wave localCheckpoint
            # call cost ~0.13 s of driver-side physical planning per wave.
            miss_nodes = self._miss_nodes(fetchable, parsed)
            # assembly reads the (already-materialized) snapshot through a
            # narrow coalesce — final counts/sorts over a crawl's union of
            # waves otherwise launch #waves × parse-width near-empty tasks
            wave_out = parsed.coalesce(assembly_cap).unionByName(miss_nodes)
            # per-wave lineage tag for metrics/telemetry (north rule)
            self.wave_outputs.append(
                wave_out.selectExpr(
                    "*", f"'{self.phase}' AS phase", f"{wave} AS wave"
                )
            )

            children = parsed.filter(F.col("rec") == "child")
            if self.recurse_filter is not None:
                # R5 recursion hooks (fetch_parse.py:345-363, 730-749):
                # a DataFrame-level filter applied between parse and expansion
                children = self.recurse_filter(children)

            pending = children.selectExpr(
                "seed",
                "child_url AS url",
                "url AS parent_url",
                "seq",
                "level",
                "lineage",
                "path_key",
                "parent_urls",
                "false AS quiet_404",
                "blocked_reason",
            ).coalesce(small_cap)
            t_plan = time.perf_counter()
            pending, buckets, pending_rows = self._close(pending)
            self._record(wave, t0, t_plan, time.perf_counter())
            if not pending_rows:
                break
            wave += 1
            if wave > K.MAX_RECURSION_LEVEL + 1:  # safety net; R1 blocks first
                break
            t0 = time.perf_counter()

    def _record(self, wave: int, t0: float, t_plan: float, t_end: float) -> None:
        LAST_WAVE_TIMINGS.append(
            {
                "phase": self.phase,
                "wave": wave,
                "seconds": round(t_end - t0, 3),
                "plan_s": round(t_plan - t0, 3),
                "pending_job_s": round(t_end - t_plan, 3),
            }
        )

    def _miss_nodes(self, fetchable: DataFrame, parsed: DataFrame) -> DataFrame:
        """Invalid-node rows for pending URLs absent from the fetch store —
        exactly what the parse stage emits for a 404
        (udfs.unfetchable_reason + '404 Not Found'), built declaratively."""
        # single selectExpr calls: plan building is per-wave driver time,
        # and every Column object costs a py4j round trip (measured ~0.07 s
        # of the wave's fixed cost was this method's column chatter)
        parsed_urls = parsed.filter("rec = 'node'").selectExpr(
            "requested_url AS url"
        )
        return fetchable.join(
            F.broadcast(parsed_urls), "url", "left_anti"
        ).selectExpr(
            "'node' AS rec",
            "seed",
            "url",
            "url AS requested_url",
            "parent_url",
            "seq",
            "level",
            "lineage",
            "path_key",
            "parent_urls",
            f"'{K.KIND_INVALID}' AS kind",
            "concat('Unable to fetch sitemap from ', url,"
            " ': 404 Not Found') AS reason",
            "quiet_404",
            "CAST(NULL AS STRING) AS child_url",
            "CAST(NULL AS STRING) AS blocked_reason",
            "0 AS n_pages",
        )

    def _fetch_join(
        self,
        fetchable: DataFrame,
        blocked: DataFrame,
        buckets: list[int],
        pending_rows: int,
    ) -> DataFrame:
        """(pending ⨝ fetch store) without ever moving payload bodies.

        Plan shape (scale-critical at a 100 TB store):

        1. broadcast the wave's URL set into a semi-join → the ONLY scan of
           the big table this wave, with the join filter applied inside the
           scan stage (predicate pushdown / row-group pruning on url);
        2. broadcast the (tiny, body-free) pending rows onto the matched
           slice → bodies stay in the scan tasks, are never shuffled or
           broadcast, and parse parallelism follows the scan partitioning;
        3. pre-blocked rows come back with null fetch columns via a cheap
           body-free branch; store misses never enter the parse stage at all
           (see ``_miss_nodes``).
        """
        store = self.fetches
        if FETCH_BUCKET_COL in store.columns:
            # suffix-clustered store: statically prune to the buckets this
            # wave's URLs hash into (directory-level partition pruning — the
            # scan never opens unrelated buckets' files, so a homogeneous
            # wave like the robots probe reads ~1/64 of the store's payload
            # bytes). The bucket list comes from the frontier close's
            # histogram (_close), exact for the filtered frontier.
            store = store.filter(
                F.col(FETCH_BUCKET_COL).isin(buckets)
            ).drop(FETCH_BUCKET_COL)
        if self.store_urls_unique:
            # one broadcast, one join: scan → hash-probe pending → parse
            hits = store.join(F.broadcast(fetchable), "url", "inner")
        else:
            # per-wave dedup of the matched slice (wave-sized shuffle)
            # replaces a store-wide dropDuplicates that would shuffle every
            # body every wave; the semi-join keeps bodies out of the dedup
            # exchange's build side. max_by over a stable tiebreak (not
            # dropDuplicates, whose pick is partitioning-dependent) keeps
            # the chosen row deterministic run-to-run when duplicate store
            # URLs carry different bodies.
            wave_urls = fetchable.select("url").distinct()
            matched = (
                store.join(F.broadcast(wave_urls), "url", "semi")
                .groupBy("url")
                .agg(
                    F.max_by(
                        F.struct("final_url", "status", "content_type", "body"),
                        F.struct("status", F.xxhash64("body"), "final_url"),
                    ).alias("r")
                )
                .select("url", "r.final_url", "r.status", "r.content_type", "r.body")
            )
            hits = matched.join(F.broadcast(fetchable), "url", "inner")
        blocked = blocked.selectExpr(
            "*",
            "CAST(NULL AS STRING) AS final_url",
            "CAST(NULL AS INT) AS status",
            "CAST(NULL AS STRING) AS content_type",
            "CAST(NULL AS BINARY) AS body",
        )
        wave_input = hits.unionByName(blocked)
        # the union SUMS its branches' partition counts, and pending inherits
        # this wave's count — unchecked, partitions double every wave and the
        # parse stage degenerates into thousands of empty Python-worker
        # launches. Cap with a narrow coalesce (no body shuffle). When the
        # frontier close's histogram says the frontier is SMALL, shrink the
        # parse width to ~256 URLs/task: a near-empty wave run at full
        # width pays a task launch + Arrow/Python round trip per empty
        # slice, which dominates deep crawls' per-wave fixed cost. Floor at
        # one task per core: URL count under-estimates work for page-heavy
        # leaves, so small-but-fat waves keep a full complement of tasks.
        par = self.spark.sparkContext.defaultParallelism
        cap = min(2 * par, max(par, (pending_rows + 255) // 256))
        return wave_input.coalesce(max(1, cap))


def _seed_frame(
    spark: SparkSession,
    homepages: Sequence[str],
    normalize_homepage_url: bool,
) -> DataFrame:
    """Validate + normalize seeds (usp/tree.py:70-85): D1 guard, optional D2
    homepage strip, trailing slash."""
    seeds: list[str] = []
    for homepage in homepages:
        if not is_http_url(homepage):
            raise ValueError(f"URL {homepage} is not a HTTP(s) URL.")
        if normalize_homepage_url:
            homepage = strip_url_to_homepage(homepage)
        if not homepage.endswith("/"):
            homepage += "/"
        if homepage not in seeds:
            seeds.append(homepage)
    # Arrow-backed local relation (pandas input): executes JVM-side, unlike a
    # plain list which becomes a pickled Python RDD and pays a Python-worker
    # launch per task on every scan
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame({"seed": seeds}))


def seed_frame_from_dataframe(
    seeds: DataFrame, normalize_homepage_url: bool = True
) -> DataFrame:
    """D1/D2 over a seeds DataFrame, entirely as column expressions — the
    10^8-homepage path (north-rule Common-Crawl seed set): seeds are never
    materialized on the driver and never touch a Python loop or UDF.

    Column re-expression of the scalar helpers (semantics of
    usp/helpers.py:47-86, 294-325):

    - D1 validation — http(s) regex gate + scheme + non-empty hostname
      (userinfo/port/IPv6-bracket aware). Invalid rows are FILTERED OUT,
      not raised: at frontier scale a bad seed is data, not an exception
      (documented deviation from the Sequence overload, which raises to
      match the reference's per-call contract).
    - D2 homepage strip — ``scheme://netloc/`` (scheme lowercased, netloc
      case preserved, same as urlparse/urlunparse).
    - trailing-slash normalization and cross-seed dedup (``distinct``).

    Input: a DataFrame with a ``seed`` column (or exactly one column).
    """
    from frontier.urlnorm import _HOSTPORT_RE, _SCHEME_RE, host_expr

    col = "seed" if "seed" in seeds.columns else seeds.columns[0]
    url = F.col(col)
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    # netloc keeps case/port/userinfo for the seed string itself (D2:
    # netloc case preserved); only the VALIDITY test uses the shared
    # never-throwing hostname extraction (frontier.urlnorm.host_expr)
    netloc = F.regexp_extract(url, _HOSTPORT_RE, 1)
    valid = (
        url.isNotNull()
        & url.rlike(r"(?i)^https?://[^\s/$.?#].[^\s]*$")
        & scheme.isin("http", "https")
        & host_expr(url).isNotNull()
    )
    if normalize_homepage_url:
        normalized = F.concat(scheme, F.lit("://"), netloc, F.lit("/"))
    else:
        normalized = F.when(url.endswith("/"), url).otherwise(
            F.concat(url, F.lit("/"))
        )
    return seeds.filter(valid).select(normalized.alias("seed")).distinct()


def sitemap_tree_for_homepages(
    spark: SparkSession,
    homepages: Sequence[str] | DataFrame,
    fetches: DataFrame,
    *,
    use_robots: bool = True,
    use_known_paths: bool = True,
    extra_known_paths: Iterable[str] = (),
    normalize_homepage_url: bool = True,
    recurse_filter: RecurseFilter | None = None,
    recurse_callback: RecurseCallback | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    store_urls_unique: bool | None = None,
    fetches_prepared: bool = False,
    seen_set=None,
    record_seen: bool = False,
) -> SitemapForest:
    """Flagship entry: the reference ``sitemap_tree_for_homepage``
    (usp/tree.py:42-130) generalized to many seeds in one distributed run.

    ``homepages`` is either a small in-process ``Sequence[str]`` (validated
    driver-side, raising on a bad URL like the reference) or a seeds
    ``DataFrame`` — the 10^8-seed path, where D1/D2 run as column
    expressions (:func:`seed_frame_from_dataframe`) and invalid seeds are
    filtered, never collected.

    ``store_urls_unique=None`` (default) auto-detects: a store written by
    :func:`cluster_fetch_store` / opened by :func:`open_fetch_store`
    carries a verified uniqueness hint, and a unique store skips the
    per-wave ``max_by`` dedup exchange of matched bodies entirely. Pass an
    explicit bool to override (False = unknown provenance, dedup per wave).

    Discovery = robots.txt probe (D3) + well-known paths (D4, anti-joined
    against robots-discovered URLs, usp/tree.py:112); recursion = wave loop.

    Deviation (documented): the reference iterates known paths in Python
    ``set`` order (nondeterministic); we order them lexicographically so
    output is deterministic under parallelism.

    ``seen_set`` (a :class:`frontier.dedup.UrlSeenSet`) is the R8
    cross-crawl URL-seen set: every frontier, the seed frontier included,
    is filtered through it by one exact anti-join when the frontier is
    closed (``seen_set.prepare_filter`` is the only call the waves make),
    and the filtered frontier is persisted once for all its consumers, so
    sitemap URLs fetched by an earlier crawl round are never re-fetched;
    they simply don't appear in this crawl's forest.
    ``record_seen=True`` appends every sitemap URL this crawl attempted
    (all non-root nodes, 404/invalid included) to the seen table afterwards
    — call ``seen_set.compact()`` periodically between rounds.
    """
    LAST_WAVE_TIMINGS.clear()
    if store_urls_unique is None:
        store_urls_unique = getattr(fetches, "_frontier_urls_unique", False)
    if not fetches_prepared:
        fetches = prepare_fetches(fetches)
    if recurse_callback is not None:
        # reference applies the list callback to the candidate list first,
        # then the per-URL predicate to each survivor (fetch_parse.py:345-363)
        url_filter = recurse_callback_filter(recurse_callback)
        if recurse_filter is None:
            recurse_filter = url_filter
        else:
            list_filter = recurse_filter

            def recurse_filter(children: DataFrame) -> DataFrame:
                return url_filter(list_filter(children))

    if isinstance(homepages, DataFrame):
        seeds = seed_frame_from_dataframe(homepages, normalize_homepage_url)
    else:
        seeds = _seed_frame(spark, homepages, normalize_homepage_url)

    # page sink root: the wave kernels side-write full page records here
    # (one parquet file per task per wave) — `forest.pages` reads them back.
    # Under the checkpoint dir when given (pages survive for resume),
    # otherwise a temp dir the forest owns (forest.unpersist() removes it).
    if checkpoint_dir:
        pages_root = os.path.join(checkpoint_dir, "pages")
        owns_pages = False
    else:
        import tempfile

        # executors write page files under this root; a driver-local temp
        # dir is only a shared filesystem on a local master. Fail loudly
        # instead of silently reading back an empty forest.pages on a
        # cluster (each executor would have written its own node-local /tmp)
        master = spark.sparkContext.master or ""
        if not master.startswith("local"):
            raise ValueError(
                "sitemap_tree_for_homepages on a non-local master "
                f"({master!r}) requires checkpoint_dir on a shared "
                "filesystem: the wave kernels side-write page parquet from "
                "executors, and a driver tempdir would silently lose them."
            )
        pages_root = tempfile.mkdtemp(prefix="frontier-pages-")
        owns_pages = True

    # R8: one seen-table snapshot serves every wave of both phases
    seen_filter = seen_set.prepare_filter("url") if seen_set is not None else None

    runner_a = _WaveRunner(
        spark, fetches, recurse_filter, checkpoint_dir, "robots", pages_root,
        resume, store_urls_unique, seen_filter,
    )
    if use_robots:
        pending0 = seeds.select(
            F.col("seed"),
            F.concat(F.col("seed"), F.lit("robots.txt")).alias("url"),
            F.col("seed").alias("parent_url"),
            F.lit(0).alias("seq"),
            F.lit(0).alias("level"),
            F.array(F.lit(0)).alias("lineage"),
            F.lit(path_segment(0)).alias("path_key"),
            F.array().cast("array<string>").alias("parent_urls"),
            F.lit(False).alias("quiet_404"),
            F.lit(None).cast("string").alias("blocked_reason"),
        )
        runner_a.run(pending0)

    robots_out = (
        runner_a.wave_outputs
        if runner_a.wave_outputs
        else [spark.createDataFrame([], PARSE_OUT_SCHEMA)]
    )
    robots_all = robots_out[0]
    for extra in robots_out[1:]:
        robots_all = robots_all.unionByName(extra)

    robots_nodes = robots_all.filter(F.col("rec") == "node")
    # URLs discovered via robots.txt = every node strictly below the robots
    # node (tree.py:103-105 collects all_sitemaps() of the robots tree)
    robots_found = robots_nodes.filter(F.col("level") >= 1).select("seed", "url")

    runner_b = _WaveRunner(
        spark, fetches, recurse_filter, checkpoint_dir, "known_paths",
        pages_root, resume, store_urls_unique, seen_filter,
    )
    if use_known_paths:
        import pandas as pd

        paths = sorted(KNOWN_SITEMAP_PATHS | set(extra_known_paths))
        paths_df = spark.createDataFrame(
            pd.DataFrame({"pseq": range(1, len(paths) + 1), "path": paths})
        ).select(F.col("pseq").cast("int"), "path")
        robots_sets = robots_found.groupBy("seed").agg(
            F.collect_set("url").alias("robots_urls")
        )
        candidates = (
            seeds.crossJoin(F.broadcast(paths_df))
            .withColumn("url", F.concat(F.col("seed"), F.col("path")))
            # D4: skip URLs already discovered via robots.txt (tree.py:112)
            .join(robots_found, ["seed", "url"], "left_anti")
            .join(robots_sets, "seed", "left")
        )
        pending_b = candidates.select(
            "seed",
            "url",
            F.col("seed").alias("parent_url"),
            F.col("pseq").alias("seq"),
            F.lit(0).alias("level"),
            F.array("pseq").alias("lineage"),
            F.lpad(F.col("pseq").cast("string"), 7, "0").alias("path_key"),
            F.coalesce("robots_urls", F.array().cast("array<string>")).alias(
                "parent_urls"
            ),
            F.lit(True).alias("quiet_404"),
            F.lit(None).cast("string").alias("blocked_reason"),
        )
        if not pending_b.isEmpty():
            runner_b.run(pending_b)

    outputs = runner_a.wave_outputs + runner_b.wave_outputs
    if not outputs:
        outputs = [
            spark.createDataFrame([], PARSE_OUT_SCHEMA)
            .withColumn("phase", F.lit(""))
            .withColumn("wave", F.lit(0))
        ]
    everything = outputs[0]
    for extra in outputs[1:]:
        everything = everything.unionByName(extra)

    forest = _assemble(spark, seeds, everything, pages_root, owns_pages)
    forest._wave_frames = runner_a.wave_frames + runner_b.wave_frames
    # per-wave fetch/parse telemetry (north rule: per-partition lineage +
    # metrics ride on every snapshot; this is the per-wave rollup)
    forest.wave_metrics = everything.groupBy("phase", "wave").agg(
        F.sum(F.when(F.col("rec") == "node", 1).otherwise(0)).alias("n_nodes"),
        F.sum(
            F.when((F.col("rec") == "node") & (F.col("kind") == K.KIND_INVALID), 1)
            .otherwise(0)
        ).alias("n_invalid"),
        F.sum(F.coalesce(F.col("n_pages"), F.lit(0))).alias("n_pages"),
        F.sum(F.when(F.col("rec") == "child", 1).otherwise(0)).alias("n_children"),
    )
    if seen_set is not None and record_seen:
        # every sitemap URL this crawl attempted (404/invalid included) —
        # the set a later round must not re-fetch; roots (level -1) are
        # synthetic, never fetched
        seen_set.record_seen(
            forest.nodes.filter(F.col("level") >= 0).select("url")
        )
    return forest


def _assemble(
    spark: SparkSession,
    seeds: DataFrame,
    parse_out: DataFrame,
    pages_root: str,
    owns_pages: bool,
) -> SitemapForest:
    """Build the final forest: drop invalid phase roots (tree.py:100-101,
    125-126), add website roots, re-densify root-child seq, and wire
    ``pages`` to the wave kernels' side-written parquet (see schemas.py
    PARSE_OUT_SCHEMA rationale — pages never transit node rows and are
    parsed exactly once)."""
    nodes = parse_out.filter(F.col("rec") == "node").select(*_NODE_COLS)
    # a root-level invalid result is dropped together with (nonexistent)
    # descendants; deeper invalids stay as tree nodes
    nodes = nodes.filter(~((F.col("level") == 0) & (F.col("kind") == K.KIND_INVALID)))

    roots = seeds.select(
        "seed",
        F.col("seed").alias("url"),
        F.col("seed").alias("requested_url"),
        F.lit(None).cast("string").alias("parent_url"),
        F.lit(0).alias("seq"),
        F.lit(-1).alias("level"),
        F.array().cast("array<int>").alias("lineage"),
        F.lit("").alias("path_key"),
        F.lit(K.KIND_WEBSITE).alias("kind"),
        F.lit(None).cast("string").alias("reason"),
        F.lit(0).alias("n_pages"),
    )

    from pyspark.sql.window import Window

    # root children: re-densify seq after invalid roots were dropped, so
    # declaration order under the website root matches the reference's
    # [robots] + kept-known-paths list (tree.py:87-126)
    root_child_rank = (
        F.row_number().over(Window.partitionBy("seed").orderBy("path_key")) - 1
    )
    level0 = nodes.filter(F.col("level") == 0).withColumn("seq", root_child_rank)
    nodes = level0.unionByName(nodes.filter(F.col("level") != 0))
    # persist: the (small) nodes table is read by the page pass's leaf
    # broadcast AND by every nodes-side action; without this the
    # union-of-snapshots + window plan re-executes per consumer
    all_nodes = (
        roots.unionByName(nodes).withColumn("depth", F.col("level") + 1).persist()
    )

    # pages = plain parquet scan of the wave kernels' side-written files —
    # no join, no re-parse, no reference to the fetch store. Filters and
    # column pruning push into the scan like any parquet read. Pages of
    # dropped invalid ROOTS cannot exist (invalid nodes emit no pages), so
    # no anti-join against dropped nodes is needed.
    os.makedirs(pages_root, exist_ok=True)
    pages = (
        spark.read.schema(PAGES_FLAT_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(pages_root)
    )
    return SitemapForest(
        nodes=all_nodes,
        pages=pages,
        pages_dir=pages_root,
        _owns_pages_dir=owns_pages,
    )


def _iso_with_offset(ts_col: str, off_col: str):
    """ISO-8601 render of a (UTC-naive instant, offset) pair: the instant is
    shifted back to source-local time and suffixed with ±HH:MM; a null
    offset renders naive (the source had no zone)."""
    shifted = F.col(ts_col) + F.expr(
        f"make_interval(0, 0, 0, 0, 0, 0, coalesce({off_col}, 0))"
    )
    absoff = F.abs(F.col(off_col))
    suffix = F.concat(
        F.when(F.col(off_col) < 0, F.lit("-")).otherwise(F.lit("+")),
        F.lpad(F.floor(absoff / 3600).cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad(F.floor((absoff % 3600) / 60).cast("string"), 2, "0"),
    )
    fmt = "yyyy-MM-dd'T'HH:mm:ss"
    return F.when(F.col(ts_col).isNull(), F.lit(None).cast("string")).otherwise(
        F.when(
            F.col(off_col).isNull(), F.date_format(F.col(ts_col), fmt)
        ).otherwise(F.concat(F.date_format(shifted, fmt), suffix))
    )


_JSON_OPTS = {"ignoreNullFields": "false"}


def _to_json_tree(forest: SitemapForest, with_pages: bool) -> DataFrame:
    """Bottom-up nested JSON assembly (see SitemapForest.to_json_tree).

    Per depth d (max → 0): render each node's own fields with ``to_json``
    (correct escaping for free), then splice in the pre-rendered child-JSON
    array (aggregated from depth d+1) and the page-JSON array before the
    closing brace. Depth is bounded at 13, so this is ≤13 small joins/aggs
    over node-metadata-sized rows; page JSON strings stay distributed."""
    nodes = forest.nodes
    parent_key = F.expr(
        "CASE WHEN path_key LIKE '%.%' "
        "THEN regexp_replace(path_key, '\\\\.[0-9]{7}$', '') ELSE '' END"
    )

    if with_pages:
        story = F.when(
            F.col("news_story").isNotNull(),
            F.struct(
                F.col("news_story.title").alias("title"),
                _iso_with_offset(
                    "news_story.publish_date",
                    "news_story.publish_date_offset_seconds",
                ).alias("publish_date"),
                F.col("news_story.publication_name").alias("publication_name"),
                F.col("news_story.publication_language").alias(
                    "publication_language"
                ),
                F.col("news_story.access").alias("access"),
                F.col("news_story.genres").alias("genres"),
                F.col("news_story.keywords").alias("keywords"),
                F.col("news_story.stock_tickers").alias("stock_tickers"),
            ),
        )
        page_json = F.to_json(
            F.struct(
                F.col("page_url").alias("url"),
                F.col("priority"),
                _iso_with_offset(
                    "last_modified", "last_modified_offset_seconds"
                ).alias("last_modified"),
                F.col("change_frequency"),
                F.col("images"),
                story.alias("news_story"),
            ),
            _JSON_OPTS,
        )
        pages_by_node = (
            forest.pages.select("seed", "path_key", "seq", page_json.alias("pj"))
            .groupBy("seed", "path_key")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("seq", "pj"))),
                    lambda x: x["pj"],
                ).alias("page_jsons")
            )
        )
    else:
        pages_by_node = None

    max_depth = nodes.agg(F.max("depth")).first()[0] or 0
    child_arrays: DataFrame | None = None  # (seed, path_key→parent, subs)
    for d in range(max_depth, -1, -1):
        lvl = nodes.filter(F.col("depth") == d)
        base = F.to_json(
            F.when(
                F.col("kind") == K.KIND_INVALID,
                F.struct(F.col("url"), F.col("reason")),
            ).otherwise(F.struct(F.col("url"), F.lit(None).alias("reason"))),
            _JSON_OPTS,
        )
        # strip the null-reason filler for non-invalid nodes
        base = F.when(
            F.col("kind") == K.KIND_INVALID, base
        ).otherwise(F.regexp_replace(base, ',"reason":null}$', "}"))
        open_obj = F.expr("substring(base_json, 1, length(base_json) - 1)")
        lvl = lvl.withColumn("base_json", base)
        if pages_by_node is not None:
            lvl = lvl.join(pages_by_node, ["seed", "path_key"], "left")
            pages_frag = F.when(
                F.col("kind").isin(*K.PAGE_KINDS),
                F.concat(
                    F.lit(',"pages":['),
                    F.array_join(F.coalesce("page_jsons", F.array()), ","),
                    F.lit("]"),
                ),
            ).otherwise(F.lit(""))
        else:
            pages_frag = F.lit("")
        if child_arrays is not None:
            lvl = lvl.join(child_arrays, ["seed", "path_key"], "left")
            subs_col = F.coalesce("subs", F.array())
        else:
            subs_col = F.array()
        subs_frag = F.when(
            F.col("kind").isin(*K.INDEX_KINDS),
            F.concat(
                F.lit(',"sub_sitemaps":['),
                F.array_join(subs_col, ","),
                F.lit("]"),
            ),
        ).otherwise(F.lit(""))
        rendered = lvl.select(
            "seed",
            parent_key.alias("path_key"),
            "seq",
            F.concat(open_obj, pages_frag, subs_frag, F.lit("}")).alias("nj"),
        )
        if d == 0:
            return rendered.select("seed", F.col("nj").alias("json"))
        child_arrays = rendered.groupBy("seed", "path_key").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("seq", "nj"))),
                lambda x: x["nj"],
            ).alias("subs")
        )
    # no nodes at depth 0 (empty forest): one empty doc per seed
    return forest.nodes.sparkSession.createDataFrame(
        [], "seed string, json string"
    )


_FROM_STR_URL = "http://usp-local-dummy.local/"


def sitemap_from_str(content: str) -> K.ParsedDoc:
    """Parse one sitemap payload from a string with recursion disabled — the
    reference ``sitemap_from_str`` (usp/tree.py:133-142): children of an index
    surface as invalid 'Un-fetched child sitemap' entries in the caller.

    JVM-free: returns the kernel's ParsedDoc; pair with
    :func:`unfetched_children` to mirror the reference tree shape.
    """
    return K.parse_sitemap_text(_FROM_STR_URL, content)


def unfetched_children(doc: K.ParsedDoc) -> list[dict]:
    """Child entries as the reference records them in string-parse mode
    (fetch_parse.py:364-367, 750-753)."""
    return [
        {"url": child, "kind": K.KIND_INVALID, "reason": "Un-fetched child sitemap"}
        for child in doc.children
    ]


def sitemap_forest_from_str(spark: SparkSession, content: str) -> SitemapForest:
    """Spark surface of the reference ``sitemap_from_str`` (usp/tree.py:
    133-142, tests/tree/test_from_str.py): parse ONE payload with recursion
    disabled and return a one-root :class:`SitemapForest` — an index's
    children surface as invalid 'Un-fetched child sitemap' nodes, a pages
    payload's records land in ``forest.pages``. Content is a single local
    string, so rows are built driver-side; the forest then composes with
    every DataFrame consumer (all_pages, to_dict, to_json_tree, CLI)."""
    from .udfs import _news_struct, _utc_and_offset

    doc = K.parse_sitemap_text(_FROM_STR_URL, content)
    seed = _FROM_STR_URL

    node_schema = (
        "seed string, url string, requested_url string, parent_url string, "
        "seq int, level int, lineage array<int>, path_key string, "
        "kind string, reason string, n_pages int, depth int"
    )
    nodes = [
        (seed, seed, seed, None, 0, -1, [], "", doc.kind, doc.reason,
         len(doc.pages), 0)
    ]
    for entry in unfetched_children(doc):
        i = len(nodes) - 1
        nodes.append(
            (seed, entry["url"], None, seed, i, 0, [i], path_segment(i),
             entry["kind"], entry["reason"], 0, 1)
        )
    nodes_df = spark.createDataFrame(nodes, node_schema)

    page_rows = []
    for seq, rec in enumerate(doc.pages):
        lastmod, offset = _utc_and_offset(rec.get("last_modified"))
        page_rows.append(
            {
                "seed": seed,
                "sitemap_url": seed,
                "path_key": "",
                "seq": seq,
                "page_url": rec["url"],
                "priority": rec.get("priority", K.DEFAULT_PRIORITY),
                "last_modified": lastmod,
                "last_modified_offset_seconds": offset,
                "change_frequency": rec.get("change_frequency"),
                "news_story": _news_struct(rec.get("news_story")),
                "images": rec.get("images"),
                "alternates": rec.get("alternates"),
            }
        )
    pages_df = spark.createDataFrame(page_rows, PAGES_FLAT_SCHEMA)
    return SitemapForest(nodes=nodes_df, pages=pages_df)
