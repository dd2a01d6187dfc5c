"""Two-parallelism scaling evidence (BASELINE.json north rule): run the
IDENTICAL frontier crawl at N and 4N cores on the same materialized corpus,
report throughput at both plus scaling efficiency
eff = (thr_4N / thr_N) / 4. Writes/updates BENCH/BASELINE.md.

    python scripts/bench_scaling.py [n_hosts] [n_low]

Methodology notes (hard-won on this sandbox):

- Every level runs a FULL untimed warm-up crawl first (JIT, Python worker
  pool spin-up, page cache), then a timed crawl; levels are INTERLEAVED
  over ``ROUNDS`` rounds and the minimum per level is reported. The host VM
  shows multi-minute noise phases (2x swings on identical runs), so
  alternating levels and taking min is the only estimator that compares
  both levels under the same conditions.
- The heap is scaled with the thread count (bench.build_spark), mirroring
  how executor count scales total heap on a real cluster. All local[k] runs
  share one machine, so the high-parallelism level additionally pays shared
  memory-bandwidth/GC contention a real 4N-executor cluster would not —
  the reported efficiency is therefore a LOWER bound on cluster scaling.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import QUIET_MEMCPY_MIN, build_spark, host_phase_probe

ROUNDS = int(os.environ.get("SCALING_ROUNDS", "3"))

# Probe-gating (round-4 verdict #2): the one 2→8 point ever recorded
# below the 0.8 bar (96M, 0.784) was measured without phase gating and
# its samples are visibly noise-spread. Before every timed sample, wait
# (bounded) for the memcpy probe to clear the degraded-phase threshold,
# and record the probe next to the sample.
GATE_MAX_WAIT_S = float(os.environ.get("SCALING_GATE_WAIT", "600"))


def wait_quiet() -> dict:
    waited = 0.0
    while True:
        probe = host_phase_probe(1.0)
        if (
            probe["memcpy64mb_per_sec"] >= QUIET_MEMCPY_MIN
            or waited >= GATE_MAX_WAIT_S
        ):
            probe["waited_s"] = waited
            probe["quiet"] = probe["memcpy64mb_per_sec"] >= QUIET_MEMCPY_MIN
            return probe
        time.sleep(30)
        waited += 30


def run_level_once(cpus: int, corpus_path: str, n_hosts: int) -> dict:
    from frontier.waves import prepare_fetches, sitemap_tree_for_homepages

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # store preparation is once-per-store work (an Iceberg store would be
        # redirect-resolved offline), not per-crawl — prepared outside timing
        corpus = prepare_fetches(
            spark.read.parquet(corpus_path), resolve_redirects=False
        )
        seeds = [f"http://host{i}.example.com/" for i in range(n_hosts)]

        def crawl() -> tuple[int, int]:
            forest = sitemap_tree_for_homepages(
                spark, seeds, corpus,
                use_known_paths=False, store_urls_unique=True,
                fetches_prepared=True,
            )
            counts = forest.pages.count(), forest.nodes.count()
            forest.unpersist()  # release caches + temp page-sink files
            return counts

        crawl()  # full untimed warm-up (workers, JIT, cache)
        # two timed crawls per session visit (warm-up amortized): doubles the
        # samples the min estimator sees per interleaved round
        samples = []
        probes = []
        for _ in range(2):
            probes.append(wait_quiet())
            os.sync()  # flush prior writeback out of the timed window
            start = time.perf_counter()
            n_pages, n_nodes = crawl()
            samples.append(time.perf_counter() - start)
        return {"cpus": cpus, "seconds": min(samples), "samples": samples,
                "probes": probes,
                "urls": n_pages + (n_nodes - n_hosts)}
    finally:
        spark.stop()


def main() -> None:
    n_hosts = int(sys.argv[1]) if len(sys.argv) > 1 else 8000
    n_low = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    n_high = 4 * n_low
    leaves, pages = 4, 250

    import bench as _bench
    workdir = os.path.join(_bench.SCRATCH or "/tmp", f"frontier_scaling_{os.getpid()}")
    corpus_path = os.path.join(workdir, "corpus")

    # materialize the corpus once (untimed, shared by both levels)
    spark = build_spark(n_high)
    spark.sparkContext.setLogLevel("ERROR")
    from frontier.synth import synth_crawl_corpus
    from frontier.waves import cluster_fetch_store

    cluster_fetch_store(
        synth_crawl_corpus(
            spark, n_hosts, leaves_per_host=leaves, pages_per_leaf=pages,
            partitions=256,
        ),
        corpus_path,
    )
    spark.stop()

    best: dict[int, dict] = {}
    samples: dict[int, list[float]] = {n_low: [], n_high: []}
    probes: dict[int, list[dict]] = {n_low: [], n_high: []}
    try:
        for rnd in range(ROUNDS):
            for cpus in (n_low, n_high):
                r = run_level_once(cpus, corpus_path, n_hosts)
                samples[cpus].extend(round(s, 2) for s in r["samples"])
                probes[cpus].extend(r["probes"])
                print(
                    f"round {rnd} local[{cpus}]: {r['seconds']:.2f}s "
                    f"(samples {r['samples']})",
                    file=sys.stderr,
                )
                if cpus not in best or r["seconds"] < best[cpus]["seconds"]:
                    best[cpus] = r
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    low, high = best[n_low], best[n_high]
    for r in (low, high):
        r["seconds"] = round(r["seconds"], 2)
        r["urls_per_sec"] = round(r["urls"] / r["seconds"], 1)

    eff = (high["urls_per_sec"] / low["urls_per_sec"]) / (n_high / n_low)
    result = {
        "low": low,
        "high": high,
        "scaling_efficiency": round(eff, 3),
        "all_samples_sec": samples,
        "all_probes": probes,
    }
    print(json.dumps(result))

    os.makedirs("BENCH", exist_ok=True)
    # per-pair artifact; BENCH/BASELINE.md is maintained by hand from these
    tag = f"_{round(low['urls'] / 1_000_000)}M" if low["urls"] >= 10**6 else ""
    with open(f"BENCH/scaling_{n_low}v{n_high}{tag}.json", "w") as fh:
        json.dump(result, fh, indent=1)


if __name__ == "__main__":
    main()
