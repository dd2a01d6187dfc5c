"""North-rule checks: crawl resumability from wave snapshots, and physical
plan shape (bodies never shuffle; small sides broadcast)."""

import contextlib
import io
import os

from pyspark.sql import functions as F

from frontier.synth import synth_crawl_corpus
from frontier.waves import sitemap_tree_for_homepages


def _crawl(spark, corpus, seeds, **kw):
    forest = sitemap_tree_for_homepages(
        spark, seeds, corpus, use_known_paths=False, **kw
    )
    pages = [
        (r.seed, r.path_key, r.seq, r.page_url)
        for r in forest.all_pages().collect()
    ]
    nodes = [
        (r.seed, r.path_key, r.url, r.kind) for r in forest.all_sitemaps().collect()
    ]
    return pages, nodes


def test_resume_from_wave_snapshots(spark, tmp_path):
    """A crawl with a checkpoint dir is resumable: a second run with
    ``resume=True`` reads committed wave snapshots back instead of
    recomputing them, and produces identical output."""
    corpus = synth_crawl_corpus(spark, 3, leaves_per_host=2, pages_per_leaf=10)
    seeds = [f"http://host{i}.example.com/" for i in range(3)]
    ck = str(tmp_path / "ck")

    pages1, nodes1 = _crawl(spark, corpus, seeds, checkpoint_dir=ck)
    assert len(pages1) == 3 * 2 * 10

    # wave snapshots are committed parquet dirs
    waves = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ck)
        for f in fs
        if f == "_SUCCESS"
    )
    assert waves, "no committed wave snapshots"
    mtimes = {p: os.path.getmtime(p) for p in waves}

    pages2, nodes2 = _crawl(
        spark, corpus, seeds, checkpoint_dir=ck, resume=True
    )
    assert pages2 == pages1
    assert nodes2 == nodes1
    # committed waves were read back, not rewritten
    assert {p: os.path.getmtime(p) for p in mtimes} == mtimes


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_pages_pass_plan_shape(spark):
    """``forest.pages`` must be a plain parquet scan of the wave kernels'
    side-written page files — no MapInArrow (no re-parse of bodies: the wave
    pass is the single expat pass), no join, no shuffle. This is the
    one-parse-per-body guarantee in plan form."""
    corpus = synth_crawl_corpus(spark, 4, leaves_per_host=2, pages_per_leaf=5)
    forest = sitemap_tree_for_homepages(
        spark,
        [f"http://host{i}.example.com/" for i in range(4)],
        corpus,
        use_known_paths=False,
        store_urls_unique=True,
    )
    plan = _plan_of(forest.pages)
    assert "Scan parquet" in plan
    assert "MapInArrow" not in plan          # pages are never re-parsed
    assert "Join" not in plan                # ...nor re-joined to the store
    assert "Exchange hashpartitioning" not in plan
    assert forest.pages.count() == 4 * 2 * 5
    forest.unpersist()
    assert not os.path.exists(forest.pages_dir)  # temp sink dir released


def test_filter_pushdown_reaches_scan(spark, tmp_path):
    """Column pruning + predicate pushdown reach the parquet scan for plain
    projections over the fetch store (Catalyst gives this for free as long
    as plans stay declarative — regression-guard it)."""
    path = str(tmp_path / "store")
    synth_crawl_corpus(spark, 3, leaves_per_host=1, pages_per_leaf=5).write.parquet(
        path
    )
    df = (
        spark.read.parquet(path)
        .filter(F.col("status") == 200)
        .select("url", "status")
    )
    plan = _plan_of(df)
    assert "PushedFilters: [" in plan and "status" in plan.split("PushedFilters")[1][:120]
    read_schema = plan.split("ReadSchema")[1][:160]
    assert "body" not in read_schema  # pruned: 2-column projection reads 2 columns


def test_prepare_fetches_default_plan_scale_safe(spark, tmp_path):
    """Naive-caller defaults must be the 100-TB-safe path: no columnar cache
    of the store, and for a 3xx-free store the
    prepared frame is the plain scan. With redirects present, resolution
    broadcasts only url metadata — the body-carrying scan never sits under
    a BroadcastExchange."""
    from frontier.synth import synth_crawl_corpus
    from frontier.waves import prepare_fetches

    path = str(tmp_path / "store")
    synth_crawl_corpus(spark, 3, leaves_per_host=1, pages_per_leaf=5).write.parquet(
        path
    )
    prepared = prepare_fetches(spark.read.parquet(path))  # defaults
    plan = _plan_of(prepared)
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan

    # redirect store: metadata-only broadcasts
    import pandas as pd

    from frontier.schemas import FETCHES_SCHEMA

    rows = pd.DataFrame(
        [
            ("http://h/a", "http://h/b", 301, None, None),
            ("http://h/b", None, 200, "text/xml", b"<urlset/>"),
        ],
        columns=["url", "final_url", "status", "content_type", "body"],
    )
    rpath = str(tmp_path / "rstore")
    spark.createDataFrame(rows, FETCHES_SCHEMA).write.parquet(rpath)
    resolved = prepare_fetches(spark.read.parquet(rpath))
    # every BroadcastExchange SUBTREE must be body-free (indentation-scoped
    # walk of the physical plan tree: children render deeper-indented)
    tree = resolved._jdf.queryExecution().executedPlan().toString()
    lines = tree.splitlines()
    checked = 0
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        checked += 1
        indent = len(line) - len(line.lstrip(" +-:*("))
        for sub in lines[i + 1:]:
            if len(sub) - len(sub.lstrip(" +-:*(")) <= indent:
                break
            assert "body" not in sub, f"body under BroadcastExchange: {sub}"
    assert checked > 0  # redirect resolution does broadcast (metadata only)
    got = {r.url: (r.final_url, r.status) for r in resolved.collect()}
    assert got["http://h/a"] == ("http://h/b", 200)
    assert got["http://h/b"] == ("http://h/b", 200)
