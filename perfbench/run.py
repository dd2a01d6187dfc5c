"""Seeds-to-fetch-plan benchmark.

One job, the one a crawl operator runs: a seed list goes in and a
materialized fetch plan comes out (``frontier.robots.crawl_fetch_plan`` —
sitemap waves, robots rules, per-host budgets, ranked plan). Each workload
generates its inputs from ``--seed`` and times that job end to end; with
``--trace 1`` a separate run replays the job as its sequence of public
calls and splits it across the modules it calls.

    python3 perfbench/run.py --workload broad --seed 1 --seconds 10 --trace 0

Run from the repository root. Everything a run writes lives under one
scratch directory in the checkout, removed at exit. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (every metric ``{"value": ..., "unit": ...}``); the line
before it records the host, the session and every sample.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import model  # noqa: E402
import probe  # noqa: E402


WORKLOADS = {
    # many hosts, 3 waves: parsing, page sink, robots and ranking
    "broad": model.Shape(hosts=64, leaves=4, pages_per_leaf=250),
    # the broad corpus behind a seen set that already holds every host's
    # sitemap URLs plus unrelated history: Bloom build, probe + anti-join,
    # record_seen and compact around a wave loop with nothing new to fetch
    "recrawl": model.Shape(hosts=64, leaves=4, pages_per_leaf=250, history=100_000),
}

#: jobs run before timing starts. Only the first job is far off (about twice
#: the later ones); job times then still fall a few percent a job for
#: several jobs, which the run's time budget cannot wait out, so a run
#: reports the median of its timed jobs
WARMUP_JOBS = 1
#: timed jobs per run, at least, however short ``--seconds`` is
MIN_JOBS = 2
#: JVM heap, fixed (-Xms = -Xmx): a growing heap kept job times drifting
HEAP = "3g"
#: data set-ups (store + seen history) per run; setup_s takes their median
DATA_BUILDS = 3


def cores() -> int:
    return len(os.sched_getaffinity(0))


def host_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {"cores": cores(), "ram_gb": round(mem_kb / 2**20, 1), "heap": HEAP}


class Bench:
    def __init__(
        self, name: str, shape: model.Shape, seed: int, trace: bool,
        scratch: str, n_cores: int | None = None,
    ) -> None:
        self.name = name
        self.shape = shape
        self.n_cores = n_cores or cores()
        self.seed = seed
        self.trace = trace
        self.scratch = scratch
        self.tmp = os.path.join(scratch, "tmp")
        self.expect = model.expected(self.shape)
        self.seeds = model.seed_urls(self.shape, seed)
        self.spark = None
        self.seen = None
        self.samples: dict = {"jobs": [], "warmup": [], "builds": []}
        self.failures: list[str] = []
        self.attempted = 0

    # --- set-up -------------------------------------------------------------

    def start_session(self) -> float:
        from pyspark.sql import SparkSession

        os.makedirs(self.tmp)
        # page sinks (tempfile.mkdtemp in the engine), JVM and worker temp
        # files all land in the run's scratch
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        n = self.n_cores
        t0 = time.perf_counter()
        self.spark = (
            SparkSession.builder.master(f"local[{n}]")
            .appName(f"perfbench-{self.name}")
            .config("spark.driver.memory", HEAP)
            .config(
                "spark.driver.extraJavaOptions",
                f"-XX:+UseG1GC -Xms{HEAP} -Djava.io.tmpdir={self.tmp}",
            )
            .config("spark.sql.shuffle.partitions", str(n))
            .config("spark.default.parallelism", str(n))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.files.maxPartitionBytes", str(1 << 20))
            .config("spark.local.dir", os.path.join(self.scratch, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.scratch, "warehouse"))
            .config("spark.ui.enabled", "true" if self.trace else "false")
            .config("spark.ui.port", "0")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def build_data(self) -> float:
        """Fetch store, plus the seen set's set-up copy where the workload
        has one. Rebuilt in place on every call."""
        from pyspark.sql import functions as F

        from frontier.synth import synth_crawl_corpus
        from frontier.waves import cluster_fetch_store, prepare_fetches

        s = self.shape
        t0 = time.perf_counter()
        store_path = os.path.join(self.scratch, "store")
        store = cluster_fetch_store(
            synth_crawl_corpus(
                self.spark, s.hosts, leaves_per_host=s.leaves,
                pages_per_leaf=s.pages_per_leaf, robots_rules=True,
            ),
            store_path,
        )
        self.fetches = prepare_fetches(store, resolve_redirects=False)
        if s.history:
            history = self.spark.range(s.history).select(
                F.concat(
                    F.lit(f"http://hist{self.seed}-"),
                    F.pmod(F.col("id"), F.lit(4096)).cast("string"),
                    F.lit(".example.org/sitemap-"),
                    F.col("id").cast("string"),
                    F.lit(".xml"),
                ).alias("url")
            )
            known = [
                (u,)
                for h in model.seen_hosts(s)
                for u in model.sitemap_urls(s, h)
            ]
            history.unionByName(
                self.spark.createDataFrame(known, "url string")
            ).write.mode("overwrite").parquet(self.seen_setup_path)
        return time.perf_counter() - t0

    @property
    def seen_setup_path(self) -> str:
        return os.path.join(self.scratch, "seen-setup")

    @property
    def seen_path(self) -> str:
        return os.path.join(self.scratch, "seen")

    def restore_seen(self) -> None:
        """Put the seen set back in its set-up state (never timed)."""
        from frontier.dedup import UrlSeenSet

        shutil.rmtree(self.seen_path, ignore_errors=True)
        shutil.copytree(self.seen_setup_path, self.seen_path)
        s = self.shape
        self.seen = UrlSeenSet(
            self.spark, self.seen_path,
            expected_urls=s.history + s.hosts * (2 + s.leaves), fpp=0.01,
        )

    # --- the job ------------------------------------------------------------

    def _page_dirs(self) -> set[str]:
        return {e for e in os.listdir(self.tmp) if e.startswith("frontier-pages-")}

    def job(self) -> tuple[float, dict]:
        """One job; returns its wall seconds and what its output holds."""
        from frontier.robots import crawl_fetch_plan
        from frontier.waves import LAST_WAVE_TIMINGS

        if self.shape.history:
            self.restore_seen()
        sinks = self._page_dirs()
        plan_path = os.path.join(self.scratch, "plan")
        shutil.rmtree(plan_path, ignore_errors=True)
        kwargs = {"seen_set": self.seen, "record_seen": True} if self.seen else {}
        os.sync()  # earlier writes are not flushed inside the timed span
        t0 = time.perf_counter()
        plan = crawl_fetch_plan(
            self.spark, self.seeds, self.fetches, use_known_paths=False,
            store_urls_unique=True, fetches_prepared=True, **kwargs,
        )
        plan.write.parquet(plan_path)
        if self.seen:
            self.seen.compact()
        seconds = time.perf_counter() - t0
        # the page sink the job left behind holds its page records
        (new_sink,) = self._page_dirs() - sinks
        observed = {
            "waves": len(LAST_WAVE_TIMINGS),
            "pages": probe.parquet_rows(os.path.join(self.tmp, new_sink)),
            **probe.plan_summary(plan_path),
        }
        if self.seen:
            observed["seen_rows"] = probe.parquet_rows(self.seen_path)
        return seconds, observed

    def check(self, observed: dict) -> list[str]:
        """Mismatches between a job's output and the closed form."""
        e = self.expect
        want = {
            "waves": e.waves,
            "pages": e.pages,
            "plan_rows": e.plan_rows,
            "plan_digest": e.plan_digest,
            "nodes": e.nodes,
            "pages_dropped": e.pages_dropped,
            "seen_rows": e.seen_rows,
        }
        return [
            f"{k}: got {v}, expected {want[k]}"
            for k, v in observed.items()
            if v != want[k]
        ]

    def checked(self, samples: list) -> float | None:
        """Run one job and check it; a raise or a wrong output counts as a
        failed job. A passing job's seconds are appended to ``samples``."""
        self.attempted += 1
        try:
            seconds, observed = self.job()
        except Exception:  # a failed job is counted, not a crash
            self.failures.append(traceback.format_exc())
            print(self.failures[-1], file=sys.stderr)
            return None
        bad = self.check(observed)
        if bad:
            self.failures.append("; ".join(bad))
            print(f"job output wrong: {self.failures[-1]}", file=sys.stderr)
            return None
        samples.append(seconds)
        self.after_job()
        return seconds

    def after_job(self) -> None:
        """Leak counters, read after every job and never cleaned between
        jobs: persisted RDDs and the scratch the run has accumulated."""
        jsc = self.spark.sparkContext._jsc
        self.samples.setdefault("persisted_rdds", []).append(
            int(jsc.sc().getPersistentRDDs().size())
        )
        self.samples.setdefault("scratch_mb", []).append(probe.dir_mb(self.scratch))

    # --- run phases -----------------------------------------------------------

    def setup(self) -> float:
        start_s = self.start_session()
        builds = [self.build_data() for _ in range(DATA_BUILDS)]
        self.samples["builds"] = builds
        self.samples["session_start_s"] = start_s
        t0 = time.perf_counter()
        for _ in range(WARMUP_JOBS):
            self.checked(self.samples["warmup"])
        warmup_s = time.perf_counter() - t0
        return start_s + statistics.median(builds) + warmup_s

    def timed(self, seconds: float) -> list[float]:
        """Jobs until ``seconds`` have passed and ``MIN_JOBS`` passed."""
        times = self.samples["jobs"]
        t0 = time.perf_counter()
        while len(times) < MIN_JOBS or time.perf_counter() - t0 < seconds:
            if self.attempted > WARMUP_JOBS + 4 * MIN_JOBS and not times:
                break  # every job fails: stop early, report the failures
            self.checked(times)
        return times

    def end_to_end(self, seconds: float) -> dict:
        setup_s = self.setup()
        times = self.timed(seconds)
        # no finished job (the run is reported incorrect): 0, never NaN
        job_s = statistics.median(times) if times else 0.0
        urls_per_s = self.expect.resolved_urls / job_s if times else 0.0
        return {
            "job_s": (job_s, "s"),
            "urls_per_s": (urls_per_s, "URLs/s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (probe.peak_rss_mb(), "MB"),
        }

    def per_layer(self, seconds: float) -> dict:
        import tracing

        self.setup()
        times = self.timed(seconds)
        return tracing.traced_run(self, statistics.median(times) if times else 0.0)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        # a later session in this process launches a fresh JVM
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test is this checkout's frontier package, never
    # one found elsewhere on the path
    if not os.path.isfile(os.path.join(ROOT, "frontier", "robots.py")):
        print(f"no frontier package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    scratch = os.path.join(
        ROOT, ".perfbench-scratch", f"{args.workload}-{os.getpid()}"
    )
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    bench = Bench(
        args.workload, WORKLOADS[args.workload], args.seed, bool(args.trace), scratch
    )
    try:
        if args.trace:
            metrics = bench.per_layer(args.seconds)
        else:
            metrics = bench.end_to_end(args.seconds)
    finally:
        if bench.spark is not None:
            stop_session(bench.spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass  # another run's scratch is still there
    print(json.dumps({
        "info": {
            **host_info(),
            "workload": args.workload,
            "shape": bench.shape.__dict__,
            "seed": args.seed,
            "samples": bench.samples,
            "failures": bench.failures,
        }
    }))
    failed = len(bench.failures)
    print(json.dumps({
        "correct": failed == 0 and bench.attempted > 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {
            name: {"value": value, "unit": unit}
            for name, (value, unit) in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
