"""The traced run: the job replayed as its sequence of public calls.

Each call is materialized before the next starts, runs in its own Spark job
group, and gets a span (name, start, end, parent). Spark's per-stage
accounting for each group is read from the application's own ``/api/v1``
endpoint, so task time, JVM CPU and bytes come from Spark itself, not from
timers around lazy calls. Spans inside ``frontier`` are not recorded.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

import model
import probe

#: top-level spans of the replayed job, in call order
JOB_SPANS = (
    "dedup.bloom_build",
    "waves.crawl",
    "dedup.record",
    "assembly.pages_read",
    "assembly.nodes",
    "robots.rules",
    "robots.filter",
    "schedule.plan",
    "dedup.compact",
)


class _PreparedSeen:
    """Hands the crawl a seen filter built (and timed) beforehand, so the
    Bloom build is its own span; the crawl calls only ``prepare_filter``."""

    def __init__(self, unseen_filter) -> None:
        self._filter = unseen_filter

    def prepare_filter(self, url_col: str = "url"):
        return self._filter


def replay(bench, spans: probe.Spans) -> dict:
    """One traced job; returns the observed counts for the output check."""
    from pyspark.sql import functions as F

    from frontier.robots import (
        fetch_plan_budgeted,
        host_budgets_from_delay,
        robots_filter,
        robots_rules_from_store,
    )
    from frontier.waves import LAST_WAVE_TIMINGS, sitemap_tree_for_homepages

    spark = bench.spark
    sc = spark.sparkContext
    seen = None
    if bench.shape.history:
        bench.restore_seen()
        seen = bench.seen

    def call(name):
        sc.setJobGroup(name, name)
        return spans(name)

    plan_path = os.path.join(bench.scratch, "plan")
    shutil.rmtree(plan_path, ignore_errors=True)
    os.sync()
    with spans("job"):
        crawl_seen = None
        if seen is not None:
            with call("dedup.bloom_build"):
                crawl_seen = _PreparedSeen(seen.prepare_filter("url"))
        with call("waves.crawl") as span:
            cpu0 = probe.python_worker_cpu_s()
            forest = sitemap_tree_for_homepages(
                spark, bench.seeds, bench.fetches, use_known_paths=False,
                store_urls_unique=True, fetches_prepared=True,
                seen_set=crawl_seen,
            )
            span.attrs["python_cpu_s"] = probe.python_worker_cpu_s() - cpu0
            span.attrs["waves"] = len(LAST_WAVE_TIMINGS)
        if seen is not None:
            with call("dedup.record"):
                seen.record_seen(forest.nodes.filter(F.col("level") >= 0).select("url"))
        with call("assembly.pages_read"):
            pages = forest.all_pages().localCheckpoint(eager=True)
        with call("assembly.nodes"):
            nodes = forest.nodes.count()
        with call("robots.rules"):
            seeds = forest.nodes.filter(F.col("level") == -1).select(
                F.col("url").alias("seed")
            )
            rules = robots_rules_from_store(seeds, bench.fetches).localCheckpoint(
                eager=True
            )
        with call("robots.filter"):
            kept = (
                robots_filter(pages, rules, url_col="page_url", broadcast_rules=True)
                .drop("robots_crawl_delay")
                .localCheckpoint(eager=True)
            )
        with call("schedule.plan"):
            budgets = host_budgets_from_delay(rules, 30.0, 12)
            fetch_plan_budgeted(kept, budgets, 12, url_col="page_url").write.parquet(
                plan_path
            )
        if seen is not None:
            with call("dedup.compact"):
                seen.compact()
    sc.setJobGroup("untraced", "untraced")
    n_pages = pages.count()
    observed = {
        "waves": spans.get("waves.crawl").attrs["waves"],
        "pages": n_pages,
        "nodes": nodes,
        "pages_dropped": n_pages - kept.count(),
        **probe.plan_summary(plan_path),
    }
    if seen is not None:
        observed["seen_rows"] = probe.parquet_rows(bench.seen_path)
    for df in (pages, rules, kept):
        df.unpersist()
    return observed


def dedup_counts(bench, spans: probe.Spans) -> dict:
    """The seen filter applied to the job's whole sitemap-URL set, and the
    Bloom counts behind it, over the set-up state of the seen set."""
    from pyspark.sql import functions as F

    from frontier.dedup import build_bloom

    spark = bench.spark
    bench.restore_seen()
    seen = bench.seen
    candidates = [
        u for h in range(bench.shape.hosts) for u in model.sitemap_urls(bench.shape, h)
    ]
    cand_df = spark.createDataFrame([(u,) for u in candidates], "url string")
    unseen_filter = seen.prepare_filter("url")
    spark.sparkContext.setJobGroup("dedup.filter", "dedup.filter")
    with spans("dedup.filter"):
        unseen = unseen_filter(cand_df).count()
    spark.sparkContext.setJobGroup("untraced", "untraced")
    table = spark.read.parquet(bench.seen_path).select(F.col("url"))
    bloom = build_bloom(table, "url", seen.expected_urls, seen.fpp)
    positives = int(bloom.might_contain_many(candidates).sum())
    confirmed = len(candidates) - unseen
    rows = probe.parquet_rows(bench.seen_path)
    return {
        "dedup.positive_ratio": (positives / len(candidates), "ratio"),
        "dedup.useful_ratio": (confirmed / positives if positives else 0.0, "ratio"),
        "dedup.bits_per_key": (bloom.m_bits / rows, "bits"),
    }


def kernel_pages_per_s(bench, min_seconds: float = 1.0) -> float:
    """``frontier.parse.parse_sitemap_text`` in this process, on one core,
    cycling over a fixed sample of the workload's leaf bodies."""
    from pyspark.sql import functions as F

    from frontier.parse import parse_sitemap_text

    rows = (
        bench.fetches.filter(F.col("url").contains("/leaf_"))
        .orderBy("url")
        .limit(8)
        .collect()
    )
    sample = [(r["url"], bytes(r["body"]).decode("utf-8")) for r in rows]
    pages, t0 = 0, time.perf_counter()
    while True:
        for url, text in sample:
            pages += len(parse_sitemap_text(url, text).pages)
        elapsed = time.perf_counter() - t0
        if elapsed >= min_seconds:
            return pages / elapsed


def traced_run(bench, job_s: float) -> dict:
    spans = probe.Spans()
    bench.attempted += 1
    observed = replay(bench, spans)
    bad = bench.check(observed)
    if bad:
        bench.failures.append("traced job: " + "; ".join(bad))
        print(bench.failures[-1], file=sys.stderr)
    bench.after_job()

    groups = [g for g in JOB_SPANS if spans.get(g)]
    dedup = dedup_counts(bench, spans) if bench.shape.history else {}
    acct = probe.spark_accounting(bench.spark.sparkContext, groups)

    def secs(name):
        span = spans.get(name)
        return span.seconds if span else 0.0

    job = spans.get("job")
    covered = sum(secs(g) for g in groups)
    crawl = spans.get("waves.crawl")
    waves_acc = acct["waves.crawl"]
    by_site = waves_acc.by_callsite
    snapshot = sum(v for k, v in by_site.items() if k.startswith("localCheckpoint@"))
    close = sum(v for k, v in by_site.items() if k == "collect@waves.py")
    n_waves = crawl.attrs["waves"]
    m = {
        "waves.crawl_s": (crawl.seconds, "s"),
        "waves.count": (n_waves, "count"),
        "waves.s_per_wave": (crawl.seconds / n_waves, "s"),
        "waves.spark_jobs": (waves_acc.jobs, "count"),
        "waves.spark_tasks": (waves_acc.tasks, "count"),
        "waves.task_s": (waves_acc.task_s, "s"),
        "waves.jvm_cpu_s": (waves_acc.jvm_cpu_s, "s"),
        "waves.driver_s": (crawl.seconds - waves_acc.jobs_wall_s, "s"),
        "waves.close_task_s": (close, "s"),
        "waves.scan_mb": (waves_acc.input_mb, "MB"),
        "parse.kernel_pages_per_s": (kernel_pages_per_s(bench), "pages/s"),
        "parse.snapshot_task_s": (snapshot, "s"),
        "parse.python_cpu_s": (crawl.attrs["python_cpu_s"], "s"),
        "assembly.pages_read_s": (secs("assembly.pages_read"), "s"),
        "assembly.nodes_s": (secs("assembly.nodes"), "s"),
        "robots.rules_s": (secs("robots.rules"), "s"),
        "robots.filter_s": (secs("robots.filter"), "s"),
        "robots.pages_dropped": (observed["pages_dropped"], "count"),
        "schedule.plan_s": (secs("schedule.plan"), "s"),
        "schedule.shuffle_mb": (acct["schedule.plan"].shuffle_write_mb, "MB"),
        "dedup.bloom_build_s": (secs("dedup.bloom_build"), "s"),
        "dedup.filter_s": (secs("dedup.filter"), "s"),
        "dedup.record_s": (secs("dedup.record"), "s"),
        "dedup.compact_s": (secs("dedup.compact"), "s"),
        "dedup.positive_ratio": dedup.get("dedup.positive_ratio", (0.0, "ratio")),
        "dedup.useful_ratio": dedup.get("dedup.useful_ratio", (0.0, "ratio")),
        "dedup.bits_per_key": dedup.get("dedup.bits_per_key", (0.0, "bits")),
        "dedup.seen_rows": (observed.get("seen_rows", 0), "count"),
        "store.build_s": (statistics.median(bench.samples["builds"]), "s"),
        "store.mb": (probe.dir_mb(os.path.join(bench.scratch, "store")), "MB"),
        "session.start_s": (bench.samples["session_start_s"], "s"),
        "session.persisted_rdds": (bench.samples["persisted_rdds"][-1], "count"),
        "session.scratch_mb": (bench.samples["scratch_mb"][-1], "MB"),
        "trace.overhead_s": (job.seconds - job_s, "s"),
        "trace.coverage": (covered / job.seconds, "ratio"),
        "trace.uncovered_s": (job.seconds - covered, "s"),
    }
    bench.samples["spans"] = [
        {k: (round(v, 4) if isinstance(v, float) else v) for k, v in s.__dict__.items()}
        for s in spans.done
    ]
    bench.samples["stages"] = {
        g: {k: round(v, 3) for k, v in a.by_callsite.items()} for g, a in acct.items()
    }
    return m
