"""Depth-stress bench (round-3 verdict #7): the bench corpus is depth-3
(robots → index → leaf); this one is a depth-11 INDEX CHAIN — the deepest
shape the reference's recursion ceiling admits (fetch_parse.py:69,
MAX_RECURSION_LEVEL=11; chain_depth=11 provably blocks its last leaf) — at
≥1M URLs, measuring the wave loop's per-wave fixed cost at realistic depth,
local[8] vs local[32].

    python scripts/bench_depth.py [n_hosts] [pages_per_leaf]

Methodology matches bench_scaling.py: full untimed warm-up per level,
levels interleaved over ROUNDS rounds, min per level reported, host-phase
probe recorded alongside. Per-wave timings come from
frontier.waves.LAST_WAVE_TIMINGS of each level's best crawl.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import build_spark, host_phase_probe

ROUNDS = int(os.environ.get("DEPTH_ROUNDS", "2"))
CHAIN = 10  # deepest fully-crawlable chain under MAX_RECURSION_LEVEL=11


def run_level(cpus: int, corpus_path: str, n_hosts: int) -> dict:
    from frontier import waves as W
    from frontier.waves import prepare_fetches, sitemap_tree_for_homepages

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        corpus = prepare_fetches(
            spark.read.parquet(corpus_path), resolve_redirects=False
        )
        seeds = [f"http://deep{i}.example.com/" for i in range(n_hosts)]

        def crawl() -> tuple[int, int]:
            forest = sitemap_tree_for_homepages(
                spark, seeds, corpus,
                use_known_paths=False, store_urls_unique=True,
                fetches_prepared=True,
            )
            counts = forest.pages.count(), forest.nodes.count()
            forest.unpersist()
            return counts

        crawl()  # untimed warm-up
        best = None
        for _ in range(2):
            os.sync()
            start = time.perf_counter()
            n_pages, n_nodes = crawl()
            took = time.perf_counter() - start
            if best is None or took < best["seconds"]:
                best = {
                    "seconds": took,
                    "wave_timings": list(W.LAST_WAVE_TIMINGS),
                    "urls": n_pages + (n_nodes - n_hosts),
                }
        best["cpus"] = cpus
        best["n_waves"] = len(best["wave_timings"])
        return best
    finally:
        spark.stop()


def main() -> None:
    n_hosts = int(sys.argv[1]) if len(sys.argv) > 1 else 1100
    pages_per_leaf = int(sys.argv[2]) if len(sys.argv) > 2 else 100

    import bench as _bench

    workdir = os.path.join(
        _bench.SCRATCH or "/tmp", f"frontier_depth_{os.getpid()}"
    )
    corpus_path = os.path.join(workdir, "corpus")

    spark = build_spark(32)
    spark.sparkContext.setLogLevel("ERROR")
    from frontier.synth import synth_deep_corpus
    from frontier.waves import cluster_fetch_store

    cluster_fetch_store(
        synth_deep_corpus(
            spark, n_hosts, chain_depth=CHAIN,
            pages_per_leaf=pages_per_leaf, partitions=64,
        ),
        corpus_path,
    )
    spark.stop()

    best: dict[int, dict] = {}
    probes = []
    try:
        for _rnd in range(ROUNDS):
            probes.append(host_phase_probe())
            for cpus in (8, 32):
                r = run_level(cpus, corpus_path, n_hosts)
                print(
                    f"local[{cpus}]: {r['seconds']:.2f}s "
                    f"({r['n_waves']} waves)",
                    file=sys.stderr,
                )
                if cpus not in best or r["seconds"] < best[cpus]["seconds"]:
                    best[cpus] = r
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    for r in best.values():
        r["seconds"] = round(r["seconds"], 2)
        r["urls_per_sec"] = round(r["urls"] / r["seconds"], 1)

    eff = (
        best[32]["urls_per_sec"] / best[8]["urls_per_sec"]
    ) / 4
    result = {
        "chain_depth": CHAIN,
        "n_hosts": n_hosts,
        "pages_per_leaf": pages_per_leaf,
        "low": best[8],
        "high": best[32],
        "eff_8v32": round(eff, 3),
        "host_phase_probes": probes,
    }
    print(json.dumps(result))
    os.makedirs("BENCH", exist_ok=True)
    total_urls = best[8]["urls"]
    tag = f"{round(total_urls / 1_000_000)}M"
    with open(f"BENCH/depth11_{tag}.json", "w") as fh:
        json.dump(result, fh, indent=1)


if __name__ == "__main__":
    main()
