"""R8 incremental-recrawl benchmark: the value of the cross-crawl URL-seen
set at scale.

Round 1 crawls a corpus cold and records every attempted sitemap URL;
round 2 re-crawls the SAME seeds with the seen set active — every
frontier is anti-joined against the seen table once, in its close, so the
engine schedules nothing and touches no payload bytes. The ratio is the
cost of discovering "nothing new to do" at 10^10 scale. Both rounds record
what they attempted and then compact the seen set; the report gives each
round's seconds and Spark jobs, and the same for its ``compact()``, which
rewrites the table after the cold round and is a no-op after the recrawl.

    python scripts/bench_recrawl.py [n_hosts]

Cores and heap follow ``bench.py`` (the box's cores, a quarter of its RAM);
the report records both. Writes BENCH/recrawl.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (
    CPUS,
    SCRATCH,
    build_spark,
    crawl_once,
    driver_heap,
    host_seeds,
)


def main() -> None:
    n_hosts = int(sys.argv[1]) if len(sys.argv) > 1 else 8000
    leaves, pages_per_leaf = 4, 250

    workdir = os.path.join(
        SCRATCH or "/tmp", f"frontier_recrawl_{os.getpid()}"
    )
    corpus_path = os.path.join(workdir, "corpus")
    seen_path = os.path.join(workdir, "seen")

    spark = build_spark(CPUS)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    def timed(name, action):
        """(seconds, Spark jobs, result) of one call, jobs counted by group."""
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        out = action()
        seconds = time.perf_counter() - t0
        sc._jsc.clearJobGroup()
        return seconds, len(sc.statusTracker().getJobIdsForGroup(name)), out

    try:
        from frontier.dedup import UrlSeenSet
        from frontier.synth import synth_crawl_corpus
        from frontier.waves import cluster_fetch_store, prepare_fetches

        cluster_fetch_store(
            synth_crawl_corpus(
                spark, n_hosts, leaves_per_host=leaves,
                pages_per_leaf=pages_per_leaf, partitions=128,
            ),
            corpus_path,
        )
        corpus = prepare_fetches(
            spark.read.parquet(corpus_path), resolve_redirects=False
        )
        seeds = host_seeds("host", n_hosts)
        # seen set sized for the sitemap URL population (robots + index +
        # leaves per host), the only URLs the wave loop ever fetches
        seen = UrlSeenSet(
            spark, seen_path, expected_urls=n_hosts * (2 + leaves), fpp=0.01
        )

        def crawl():
            return crawl_once(
                spark, corpus, seeds, seen_set=seen, record_seen=True
            )

        # untimed warm-up (JIT + worker pool), no seen involvement
        crawl_once(spark, corpus, seeds)
        os.sync()

        cold_s, cold_jobs, (n_pages1, n_nodes1) = timed("cold", crawl)
        cold_compact_s, cold_compact_jobs, _ = timed("cold-compact", seen.compact)

        warm_s, warm_jobs, (n_pages2, n_nodes2) = timed("recrawl", crawl)
        warm_compact_s, warm_compact_jobs, _ = timed(
            "recrawl-compact", seen.compact
        )

        urls = n_pages1 + (n_nodes1 - n_hosts)
        result = {
            "n_hosts": n_hosts,
            "cpus": CPUS,
            "heap": driver_heap(),
            "cold": {
                "seconds": round(cold_s, 2),
                "spark_jobs": cold_jobs,
                "pages": n_pages1,
                "urls_per_sec": round(urls / cold_s, 1),
                "compact_s": round(cold_compact_s, 3),
                "compact_jobs": cold_compact_jobs,
            },
            "recrawl": {
                "seconds": round(warm_s, 2),
                "spark_jobs": warm_jobs,
                "pages": n_pages2,
                "nodes_nonroot": n_nodes2 - n_hosts,
                "compact_s": round(warm_compact_s, 3),
                "compact_jobs": warm_compact_jobs,
            },
            "speedup": round(cold_s / warm_s, 1),
            "seen_rows": spark.read.parquet(seen_path).count(),
        }
        print(json.dumps(result))
        os.makedirs("BENCH", exist_ok=True)
        with open("BENCH/recrawl.json", "w") as fh:
            json.dump(result, fh, indent=1)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
