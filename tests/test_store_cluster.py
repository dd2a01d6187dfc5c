"""Suffix-clustered fetch store (cluster_fetch_store): crawl results are
byte-identical to an unclustered store, redirect relabeling keeps the source
row's bucket, and the wave scan actually prunes partitions."""

import os

import pytest
from pyspark.sql import functions as F

from frontier.synth import (
    TEST_BASE_URL as BASE,
    _row,
    fetches_from_rows,
    reference_site_fetches,
    reference_site_rows,
)
from frontier.waves import (
    FETCH_BUCKET_COL,
    KNOWN_SITEMAP_PATHS,
    cluster_fetch_store,
    fetch_bucket,
    prepare_fetches,
    sitemap_tree_for_homepages,
)


def _crawl(spark, fetches, **kw):
    return sitemap_tree_for_homepages(spark, [BASE], fetches, **kw)


def _node_rows(forest):
    return [
        (r.url, r.kind, r.reason, r.n_pages)
        for r in forest.all_sitemaps().collect()
    ]


def _page_rows(forest):
    return [
        (r.page_url, r.priority, r.last_modified)
        for r in forest.all_pages().collect()
    ]


def test_clustered_crawl_identical(spark, tmp_path):
    plain = _crawl(spark, reference_site_fetches(spark))
    store = cluster_fetch_store(
        reference_site_fetches(spark), str(tmp_path / "store")
    )
    assert FETCH_BUCKET_COL in store.columns
    clustered = _crawl(spark, store)
    assert _node_rows(clustered) == _node_rows(plain)
    assert _page_rows(clustered) == _page_rows(plain)
    plain.unpersist()
    clustered.unpersist()


def test_clustered_redirect_keeps_source_bucket(spark, tmp_path):
    """A 3xx row's relabeled replacement must stay joinable under the
    SOURCE url's bucket — the landing row's bucket would silently 404 the
    redirect for any pruned wave."""
    rows = [
        _row(
            f"{BASE}/robots.txt",
            f"User-agent: *\nSitemap: {BASE}/redirected_sitemap",
            content_type="text/plain",
        ),
        # source suffix ("...ed_sitemap") differs from landing suffix
        # (".xml"), so the two hash to different buckets
        _row(f"{BASE}/redirected_sitemap", "", status=301,
             final_url=f"{BASE}/real.xml"),
        _row(
            f"{BASE}/real.xml",
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            f"<url><loc>{BASE}/news/a.html</loc></url></urlset>",
            content_type="application/xml",
        ),
    ]
    plain = _crawl(spark, fetches_from_rows(spark, rows))
    store = cluster_fetch_store(
        fetches_from_rows(spark, rows), str(tmp_path / "store")
    )
    # the buckets genuinely differ, or this test proves nothing
    b = {
        r.url: r.b
        for r in store.select("url", F.col(FETCH_BUCKET_COL).alias("b")).collect()
    }
    assert b[f"{BASE}/redirected_sitemap"] != b[f"{BASE}/real.xml"]
    clustered = _crawl(spark, store)
    assert _node_rows(clustered) == _node_rows(plain)
    assert _page_rows(clustered) == _page_rows(plain)
    pages = _page_rows(clustered)
    assert any("news/a.html" in p[0] for p in pages)
    plain.unpersist()
    clustered.unpersist()


def test_bucket_is_pure_function_of_url(spark):
    """Probe-side recomputation must agree with the stored column for every
    row — the exactness guarantee behind the pruning."""
    store = reference_site_fetches(spark).withColumn(
        FETCH_BUCKET_COL, fetch_bucket(F.col("url"))
    )
    again = store.withColumn("b2", fetch_bucket(F.col("url")))
    assert again.filter(F.col(FETCH_BUCKET_COL) != F.col("b2")).count() == 0
    n = store.select(FETCH_BUCKET_COL).distinct().count()
    assert n >= 2  # the fixture's suffixes actually spread across buckets


def test_partition_pruning_reads_fewer_files(spark, tmp_path):
    """A bucket-filtered scan of the clustered store must touch only the
    matching partition directories (directory-level pruning, not a
    post-scan filter)."""
    path = str(tmp_path / "store")
    cluster_fetch_store(reference_site_fetches(spark), path)
    store = spark.read.parquet(path)
    robots_bucket = store.filter(
        F.col("url") == f"{BASE}/robots.txt"
    ).select(FETCH_BUCKET_COL).collect()[0][0]
    pruned = store.filter(F.col(FETCH_BUCKET_COL) == robots_bucket)
    all_files = set(store.inputFiles())
    pruned_files = {
        f for f in all_files if f"{FETCH_BUCKET_COL}={robots_bucket}" in f
    }
    assert pruned_files and pruned_files < all_files
    # every row surviving the filter came from the matching directory
    got = pruned.select("url").collect()
    assert any(r.url == f"{BASE}/robots.txt" for r in got)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_waves_never_open_untouched_buckets(spark, tmp_path):
    """Bucket pruning pinned end to end: every bucket directory that no
    wave's frontier hashes into holds unreadable files, and the crawl must
    still reproduce the unclustered forest exactly — so no wave, wave 0
    included, may scan a bucket outside its frontier's histogram."""
    plain = _crawl(spark, reference_site_fetches(spark))
    # everything a wave can request: robots, every known path (404s leave
    # no node behind), every node of the golden forest
    requested = {f"{BASE}/robots.txt"} | {
        f"{BASE}/{p}" for p in KNOWN_SITEMAP_PATHS
    }
    for r in plain.nodes.select("url", "requested_url").collect():
        requested |= {r.url, r.requested_url}
    touched = {
        r.b
        for r in spark.createDataFrame(
            [(u,) for u in requested if u], "url string"
        )
        .select(fetch_bucket(F.col("url")).alias("b"))
        .collect()
    }
    # unlinked decoys fill buckets that no wave will ever touch
    decoys = [_row(f"{BASE}/unlinked_{i}.xml", "<urlset/>") for i in range(40)]
    path = str(tmp_path / "store")
    store = cluster_fetch_store(
        fetches_from_rows(spark, reference_site_rows() + decoys), path
    )
    fetches = prepare_fetches(store)  # its redirect probe scans everything
    corrupted = 0
    for entry in os.listdir(path):
        if not entry.startswith(f"{FETCH_BUCKET_COL}="):
            continue
        if int(entry.split("=", 1)[1]) in touched:
            continue
        bucket_dir = os.path.join(path, entry)
        for name in os.listdir(bucket_dir):
            full = os.path.join(bucket_dir, name)
            if name.endswith(".crc"):
                os.remove(full)
            else:
                with open(full, "wb") as fh:
                    fh.write(b"not a parquet file")
                corrupted += 1
    assert corrupted > 0
    with pytest.raises(Exception):  # the store really is unreadable whole
        fetches.select("url", "body").collect()

    clustered = _crawl(spark, fetches, fetches_prepared=True)
    assert _node_rows(clustered) == _node_rows(plain)
    assert _page_rows(clustered) == _page_rows(plain)
    plain.unpersist()
    clustered.unpersist()

