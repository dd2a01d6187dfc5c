"""R8 cross-crawl URL-seen set wired into the wave loop (north rule: skip
re-fetch of already-seen sitemap URLs across seeds / crawl rounds)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from frontier.datapipe import REGISTRY
from frontier.dedup import UrlSeenSet
from frontier.synth import reference_site_fetches, synth_crawl_corpus
from frontier.waves import LAST_WAVE_TIMINGS, sitemap_tree_for_homepages

#: physical operators that run Python workers
_PYTHON_NODES = (
    "MapInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
)


def _crawl(spark, corpus, n_hosts, **kw):
    seeds = [f"http://host{i}.example.com/" for i in range(n_hosts)]
    return sitemap_tree_for_homepages(
        spark, seeds, corpus, use_known_paths=False, **kw
    )


def _assert_one_jvm_anti_join(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert [n for n in _PYTHON_NODES if n in plan] == []


def test_seen_filter_is_one_jvm_anti_join(spark, tmp_path):
    """The crawl's seen filter, and the ``url_seen_filter`` registry query
    built on the same join, plan as a plain left-anti join: no Python
    worker node anywhere in their physical plans, and the result is exact."""
    seen = UrlSeenSet(spark, str(tmp_path / "seen"), expected_urls=256, fpp=0.1)
    seen.record_seen(
        spark.createDataFrame(
            [(f"http://s.com/p{i}",) for i in range(0, 100, 2)], "url string"
        )
    )
    candidates = spark.createDataFrame(
        [(f"http://s.com/p{i}",) for i in range(100)], "url string"
    )
    unseen = seen.prepare_filter("url")(candidates)
    _assert_one_jvm_anti_join(unseen)
    assert sorted(r["url"] for r in unseen.collect()) == sorted(
        f"http://s.com/p{i}" for i in range(1, 100, 2)
    )

    # the registry query reads events.event_id and documents.doc_id only
    spark.range(300).selectExpr("id AS event_id").write.parquet(
        str(tmp_path / "events.parquet")
    )
    spark.range(200).selectExpr("id AS doc_id").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    _assert_one_jvm_anti_join(
        REGISTRY["url_seen_filter"].build(spark, str(tmp_path))
    )


def test_second_crawl_skips_everything(spark, tmp_path):
    corpus = synth_crawl_corpus(spark, 2, leaves_per_host=2, pages_per_leaf=5)
    seen = UrlSeenSet(spark, str(tmp_path / "seen"), expected_urls=4096)

    first = _crawl(spark, corpus, 2, seen_set=seen, record_seen=True)
    assert first.pages.count() == 2 * 2 * 5
    n_recorded = spark.read.parquet(str(tmp_path / "seen")).count()
    assert n_recorded == 2 * 4  # robots + index + 2 leaves per host

    second = _crawl(spark, corpus, 2, seen_set=seen)
    # the seen filter emptied the seed frontier: the robots wave still
    # counts, and nothing follows it
    assert len(LAST_WAVE_TIMINGS) == 1
    # every sitemap URL is seen → only synthetic roots remain, no pages
    assert second.pages.count() == 0
    assert second.nodes.filter(F.col("level") >= 0).count() == 0
    assert second.nodes.count() == 2  # the website roots
    first.unpersist(), second.unpersist()


def _listing(path):
    """(relative name, size) of every file under ``path``."""
    return sorted(
        (os.path.relpath(os.path.join(d, f), path),
         os.path.getsize(os.path.join(d, f)))
        for d, _, files in os.walk(path)
        for f in files
    )


def test_fully_seen_round_appends_nothing(spark, tmp_path):
    """A round that attempted nothing (every seed robots.txt seen, no
    known-path phase) leaves the seen table's files as they were: no
    empty part file is appended."""
    corpus = synth_crawl_corpus(spark, 2, leaves_per_host=2, pages_per_leaf=5)
    base = str(tmp_path / "seen")
    seen = UrlSeenSet(spark, base, expected_urls=4096)
    first = _crawl(spark, corpus, 2, seen_set=seen, record_seen=True)
    before = _listing(base)
    assert before
    second = _crawl(spark, corpus, 2, seen_set=seen, record_seen=True)
    assert second.pages.count() == 0
    assert _listing(base) == before
    first.unpersist(), second.unpersist()


def test_seen_robots_still_rules_a_new_known_path(spark, tmp_path):
    """Rules cover every seed host, not only hosts whose robots.txt the
    round fetched: with robots.txt already seen, the known-path
    /sitemap.xml is new, and its pages must still obey the host's
    Disallow."""
    from frontier.robots import crawl_fetch_plan

    urlset = (
        b'<?xml version="1.0" encoding="UTF-8"?>'
        b'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        b"<url><loc>http://a.com/page.html</loc></url>"
        b"<url><loc>http://a.com/private/x.html</loc></url>"
        b"</urlset>"
    )
    store = spark.createDataFrame(
        [
            ("http://a.com/robots.txt", 200, "text/plain",
             bytearray(b"User-agent: *\nDisallow: /private/\n")),
            ("http://a.com/sitemap.xml", 200, "application/xml",
             bytearray(urlset)),
        ],
        "url string, status int, content_type string, body binary",
    )
    seen = UrlSeenSet(spark, str(tmp_path / "seen"), expected_urls=64)
    seen.record_seen(
        spark.createDataFrame([("http://a.com/robots.txt",)], "url string")
    )
    plan = crawl_fetch_plan(spark, ["http://a.com/"], store, seen_set=seen)
    assert [r["page_url"] for r in plan.collect()] == ["http://a.com/page.html"]


def test_partial_seen_skips_only_that_subtree(spark, tmp_path):
    corpus = synth_crawl_corpus(spark, 2, leaves_per_host=2, pages_per_leaf=5)
    seen = UrlSeenSet(spark, str(tmp_path / "seen"), expected_urls=4096)
    # pre-record ONE leaf of host0 — e.g. from another crawler's round
    seen.record_seen(
        spark.createDataFrame(
            [("http://host0.example.com/leaf_0.xml",)], "url string"
        )
    )
    forest = _crawl(spark, corpus, 2, seen_set=seen)
    # host0 loses exactly leaf_0's 5 pages; host1 is complete
    per_host = {
        r["h"]: r["n"]
        for r in forest.pages.groupBy(
            F.parse_url("page_url", F.lit("HOST")).alias("h")
        ).agg(F.count("*").alias("n")).collect()
    }
    assert per_host == {
        "host0.example.com": 5,
        "host1.example.com": 10,
    }
    urls = {r["url"] for r in forest.nodes.collect()}
    assert "http://host0.example.com/leaf_0.xml" not in urls
    assert "http://host1.example.com/leaf_0.xml" in urls
    forest.unpersist()


def test_new_seeds_crawl_fully_after_rounds(spark, tmp_path):
    corpus = synth_crawl_corpus(spark, 3, leaves_per_host=1, pages_per_leaf=4)
    seen = UrlSeenSet(spark, str(tmp_path / "seen"), expected_urls=4096)

    # round 1: hosts 0-1; round 2 adds host2 — only host2 is new work
    seeds_r1 = [f"http://host{i}.example.com/" for i in range(2)]
    f1 = sitemap_tree_for_homepages(
        spark, seeds_r1, corpus, use_known_paths=False,
        seen_set=seen, record_seen=True,
    )
    assert f1.pages.count() == 2 * 4
    seen.compact()

    seeds_r2 = [f"http://host{i}.example.com/" for i in range(3)]
    f2 = sitemap_tree_for_homepages(
        spark, seeds_r2, corpus, use_known_paths=False,
        seen_set=seen, record_seen=True,
    )
    hosts = {
        r["h"]
        for r in f2.pages.select(
            F.parse_url("page_url", F.lit("HOST")).alias("h")
        ).distinct().collect()
    }
    assert hosts == {"host2.example.com"}
    assert f2.pages.count() == 4
    # union of both rounds' seen tables covers all three hosts' sitemaps
    assert spark.read.parquet(str(tmp_path / "seen")).distinct().count() == 3 * 3
    f1.unpersist(), f2.unpersist()


def test_compact_crash_recovery(spark, tmp_path):
    """Review-caught: a crash between compact()'s two renames leaves no
    live dir but a complete __trash-* copy; the next read/compact must
    restore it instead of treating the seen set as empty (and the leftover
    sweep must never delete the only surviving copy)."""
    import os

    base = str(tmp_path / "seen")
    seen = UrlSeenSet(spark, base, expected_urls=1024)
    seen.record_seen(
        spark.createDataFrame([(f"http://s.com/p{i}",) for i in range(10)],
                              "url string")
    )
    # simulate the crash window: base renamed to trash, tmp snapshot left
    os.rename(base, base + "__trash-deadbeef")
    os.makedirs(base + "__compact-cafebabe")

    # a plain read recovers the table
    assert seen._seen_table().count() == 10
    assert os.path.exists(base)

    # and a full compact afterwards sweeps the leftovers, keeps the data
    os.rename(base, base + "__trash-deadbee2")
    seen.compact()
    assert spark.read.parquet(base).count() == 10
    leftovers = [e for e in os.listdir(str(tmp_path))
                 if "__trash-" in e or "__compact-" in e]
    assert leftovers == []


def test_compact_without_append_is_a_no_op(spark, tmp_path, jobs_in):
    """compact() rewrites only a table appended to since its last
    compaction: a second compact launches no Spark job and leaves every
    file as it was; a later record_seen makes the next compact
    de-duplicate again. The uncompacted mark is invisible to readers."""
    base = str(tmp_path / "seen")
    seen = UrlSeenSet(spark, base, expected_urls=1024)
    urls = [(f"http://s.com/p{i}",) for i in range(10)]
    seen.record_seen(spark.createDataFrame(urls, "url string"))
    seen.record_seen(spark.createDataFrame(urls[5:], "url string"))
    # the mark is hidden from the table's readers
    assert "_uncompacted" in os.listdir(base)
    assert spark.read.parquet(base).columns == ["url"]
    assert seen._seen_table().count() == 15

    seen.compact()
    assert spark.read.parquet(base).count() == 10
    assert "_uncompacted" not in os.listdir(base)
    before = _listing(base)
    assert jobs_in("compact-no-op", seen.compact) == 0
    assert _listing(base) == before

    seen.record_seen(spark.createDataFrame(urls[:3], "url string"))
    assert spark.read.parquet(base).count() == 13
    seen.compact()
    assert sorted(r.url for r in spark.read.parquet(base).collect()) == sorted(
        u for (u,) in urls
    )


def test_record_seen_after_crash_keeps_the_old_table(spark, tmp_path):
    """An append after a compaction crashed in its rename window restores
    the old table first instead of starting a fresh one beside it (which
    the next compact's sweep would have deleted), and the restored table
    keeps its uncompacted mark."""
    base = str(tmp_path / "seen")
    seen = UrlSeenSet(spark, base, expected_urls=1024)
    seen.record_seen(
        spark.createDataFrame([(f"http://s.com/p{i}",) for i in range(10)],
                              "url string")
    )
    os.rename(base, base + "__trash-deadbeef")
    seen.record_seen(
        spark.createDataFrame([("http://s.com/new",)], "url string")
    )
    seen.compact()
    assert spark.read.parquet(base).count() == 11
    assert [e for e in os.listdir(str(tmp_path)) if "__" in e] == []


def _candidates(spark, *urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def test_seen_table_read_launches_no_job(spark, tmp_path, jobs_in):
    """The seen table is read with its declared schema: preparing the
    filter over an existing table launches no Spark job."""
    seen = UrlSeenSet(spark, str(tmp_path / "seen"), expected_urls=1024)
    seen.record_seen(_candidates(spark, "http://a/", "http://b/"))
    seen.compact()
    assert jobs_in("seen-prepare", seen.prepare_filter) == 0
    unseen = seen.prepare_filter()(_candidates(spark, "http://a/", "http://c/"))
    assert [r.url for r in unseen.collect()] == ["http://c/"]


def test_unreadable_seen_table_fails_the_filter(spark, tmp_path):
    """A table whose data files cannot be read is an error, not "no rounds
    yet": filtering through it raises instead of passing seen URLs."""
    base = str(tmp_path / "seen")
    seen = UrlSeenSet(spark, base, expected_urls=1024)
    seen.record_seen(_candidates(spark, "http://a/", "http://b/"))
    seen.compact()
    parts = [e for e in os.listdir(base) if e.startswith("part-")]
    assert parts
    for part in parts:
        with open(os.path.join(base, part), "wb") as f:
            f.write(b"not a parquet file")
    candidates = _candidates(spark, "http://a/", "http://c/")
    with pytest.raises(Exception):
        seen.prepare_filter()(candidates).collect()


def test_marker_only_table_filters_as_identity(spark, tmp_path):
    """A crash between record_seen's mark and its append leaves a table
    directory with no data file: it filters nothing out, and compacting it
    leaves a readable empty table without the mark."""
    base = str(tmp_path / "seen")
    os.makedirs(base)
    open(os.path.join(base, "_uncompacted"), "w").close()
    seen = UrlSeenSet(spark, base, expected_urls=1024)
    unseen = seen.filter_unseen(_candidates(spark, "http://a/", "http://c/"))
    assert sorted(r.url for r in unseen.collect()) == ["http://a/", "http://c/"]
    seen.compact()
    assert "_uncompacted" not in os.listdir(base)
    table = spark.read.parquet(base)
    assert table.columns == ["url"] and table.count() == 0


def test_assembly_caches_nothing(spark, tmp_path):
    """A crawl caches its nodes table only when the nodes are read:
    crawl_fetch_plan (which never reads them) plus its write leaves the
    session's cache as it found it, and a plain crawl adds the nodes entry
    on the first read of ``forest.nodes``, not at assembly."""
    from frontier.robots import crawl_fetch_plan

    cache = spark._jsparkSession.sharedState().cacheManager()
    baseline = cache.numCachedEntries()
    corpus = synth_crawl_corpus(spark, 2, leaves_per_host=2, pages_per_leaf=5)
    seeds = [f"http://host{i}.example.com/" for i in range(2)]
    plan = crawl_fetch_plan(spark, seeds, corpus, use_known_paths=False)
    plan.write.parquet(str(tmp_path / "plan"))
    assert cache.numCachedEntries() == baseline

    forest = _crawl(spark, corpus, 2)
    assembled = cache.numCachedEntries()
    assert forest.nodes.count() == 2 * 4 + 2
    assert cache.numCachedEntries() == assembled + 1
    forest.unpersist()
    assert cache.numCachedEntries() == baseline


def test_forest_unpersist_frees_every_persisted_rdd(spark, tmp_path):
    """A long-lived session running many crawls frees what each crawl
    persisted (frontiers, parse snapshots, the nodes cache) on
    forest.unpersist(): no persisted RDD outlives its forest."""
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    baseline = persisted()
    corpus = synth_crawl_corpus(spark, 2, leaves_per_host=2, pages_per_leaf=5)
    seen = UrlSeenSet(spark, str(tmp_path / "seen"), expected_urls=4096)
    crawls = [
        lambda: _crawl(spark, corpus, 2),
        lambda: _crawl(spark, corpus, 2, seen_set=seen, record_seen=True),
        # both phases: robots waves, then the known-path probes
        lambda: sitemap_tree_for_homepages(
            spark,
            ["http://test_ultimate-sitemap-parser.com"],
            reference_site_fetches(spark),
        ),
    ]
    for crawl in crawls:
        forest = crawl()
        assert forest.nodes.count() > 0  # materializes the nodes cache
        assert persisted() - baseline  # the crawl did persist something
        forest.unpersist()
        assert persisted() - baseline == set()
