"""Seen-filter benchmark: the crawl's exact left-anti join against the
seen table, per application, at 10^6 and 10^7 seen URLs.

Each candidate set is filtered ``--reps`` times:

- ``all_seen``: 384 URLs, every one in the seen table (a recrawl frontier
  with nothing new);
- ``one_pct_seen``: 10^4 URLs, 1% in the seen table (a mostly-new
  frontier).

Every application must return the closed-form unseen count (0 and 9,900);
the script exits non-zero otherwise.

    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_MEM=3g python scripts/bench_seen_filter.py

Prints one JSON report (median, quartiles, min/max per candidate set).
``BENCH/seen_filter.json`` holds an earlier run of this script that also
timed a Bloom prefilter with anti-join confirmation in front of the same
join; the Bloom arm was slower in every cell and has been removed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import SCRATCH, build_spark  # noqa: E402


def _spread(samples: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(samples, n=4, method="inclusive")
    return {
        "median_s": round(med, 3),
        "q1_s": round(q1, 3),
        "q3_s": round(q3, 3),
        "min_s": round(min(samples), 3),
        "max_s": round(max(samples), 3),
        "samples_s": [round(s, 3) for s in samples],
    }


def _timed(fn) -> tuple[float, int]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def measure(spark, workdir: str, n_seen: int, reps: int) -> dict:
    from pyspark.sql import functions as F

    from frontier.dedup import UrlSeenSet

    def urls(ids):
        return ids.select(
            F.concat(
                F.lit("http://h"), F.pmod(F.col("id"), F.lit(4096)).cast("string"),
                F.lit(".example.org/sitemap-"), F.col("id").cast("string"),
                F.lit(".xml"),
            ).alias("url")
        )

    path = os.path.join(workdir, f"seen-{n_seen}")
    urls(spark.range(n_seen)).write.mode("overwrite").parquet(path)
    anti_join = UrlSeenSet(spark, path).prepare_filter("url")
    candidate_sets = {
        # every candidate seen: ids spread over the whole table
        "all_seen": (
            urls(
                spark.range(384).select(
                    (F.col("id") * (n_seen // 384)).alias("id")
                )
            ),
            0,
        ),
        # 100 seen ids, 9900 ids past the table's end
        "one_pct_seen": (
            urls(
                spark.range(10_000).select(
                    F.when(F.col("id") < 100, F.col("id") * (n_seen // 100))
                    .otherwise(F.col("id") + n_seen)
                    .alias("id")
                )
            ),
            9_900,
        ),
    }
    out = {"seen_urls": n_seen}
    for name, (cand, unseen) in candidate_sets.items():
        cand = cand.localCheckpoint(eager=True)
        times = []
        for _ in range(reps):
            seconds, n = _timed(lambda: anti_join(cand).count())
            if n != unseen:
                raise SystemExit(f"{name} at {n_seen}: {n} unseen, want {unseen}")
            times.append(seconds)
        out[name] = {
            "candidates": cand.count(),
            "unseen": unseen,
            "anti_join": _spread(times),
        }
    shutil.rmtree(path, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sizes", nargs="*", type=int, default=[10**6, 10**7])
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    os.environ.setdefault("SPARK_GRAFT_MEM", "3g")
    workdir = os.path.join(SCRATCH or "/tmp", f"seen_filter_{os.getpid()}")
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        results = [measure(spark, workdir, n, args.reps) for n in args.sizes]
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()
    report = {
        "cores": cpus,
        "heap": os.environ["SPARK_GRAFT_MEM"],
        "reps": args.reps,
        "results": results,
    }
    print(json.dumps(report))


if __name__ == "__main__":
    main()
