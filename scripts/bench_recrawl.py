"""R8 incremental-recrawl benchmark: the value of the cross-crawl URL-seen
set at scale.

Round 1 crawls a corpus cold and records every attempted sitemap URL;
round 2 re-crawls the SAME seeds with the seen set active — every
frontier is anti-joined against the seen table once, in its close, so the
engine schedules nothing and touches no payload bytes. The ratio is the
cost of discovering "nothing new to do" at 10^10 scale.

    python scripts/bench_recrawl.py [n_hosts]

Writes BENCH/recrawl.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import build_spark


def main() -> None:
    n_hosts = int(sys.argv[1]) if len(sys.argv) > 1 else 8000
    leaves, pages_per_leaf = 4, 250

    import bench as _bench

    workdir = os.path.join(
        _bench.SCRATCH or "/tmp", f"frontier_recrawl_{os.getpid()}"
    )
    corpus_path = os.path.join(workdir, "corpus")
    seen_path = os.path.join(workdir, "seen")

    spark = build_spark(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        from frontier.dedup import UrlSeenSet
        from frontier.synth import synth_crawl_corpus
        from frontier.waves import (
            cluster_fetch_store,
            prepare_fetches,
            sitemap_tree_for_homepages,
        )

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
        seeds = [f"http://host{i}.example.com/" for i in range(n_hosts)]
        # seen set sized for the sitemap URL population (robots + index +
        # leaves per host), the only URLs the wave loop ever fetches
        seen = UrlSeenSet(
            spark, seen_path, expected_urls=n_hosts * (2 + leaves), fpp=0.01
        )

        def crawl(**kw):
            forest = sitemap_tree_for_homepages(
                spark, seeds, corpus, use_known_paths=False,
                store_urls_unique=True, fetches_prepared=True, **kw,
            )
            counts = forest.pages.count(), forest.nodes.count()
            forest.unpersist()
            return counts

        crawl()  # untimed warm-up (JIT + worker pool), no seen involvement
        os.sync()

        t0 = time.perf_counter()
        n_pages1, n_nodes1 = crawl(seen_set=seen, record_seen=True)
        cold_s = time.perf_counter() - t0
        seen.compact()

        t0 = time.perf_counter()
        n_pages2, n_nodes2 = crawl(seen_set=seen)
        warm_s = time.perf_counter() - t0

        urls = n_pages1 + (n_nodes1 - n_hosts)
        result = {
            "n_hosts": n_hosts,
            "cold": {
                "seconds": round(cold_s, 2),
                "pages": n_pages1,
                "urls_per_sec": round(urls / cold_s, 1),
            },
            "recrawl": {
                "seconds": round(warm_s, 2),
                "pages": n_pages2,
                "nodes_nonroot": n_nodes2 - n_hosts,
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
