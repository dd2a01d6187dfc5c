"""N→4N scaling bench, one harness for five kernels: the IDENTICAL job at
``n_low`` and ``4·n_low`` cores over one materialized input, reported as
throughput at both levels plus scaling efficiency
eff = (thr_4N / thr_N) / 4.

    python scripts/bench_scaling.py KERNEL [n] [n_low]

======== ============== ==================================================
KERNEL   n (default)    the timed job
======== ============== ==================================================
crawl    hosts (8000)   frontier crawl of the depth-3 synthetic corpus
                        (robots → index → 4 leaves × 250 pages per host)
deep     hosts (1100)   frontier crawl of depth-11 index chains
                        (synth_deep_corpus, chain 10 — the deepest the
                        reference's recursion ceiling fully crawls —
                        × 100 pages per leaf): the per-wave fixed cost
outlinks pages (2e6)    extract_links over ~20 links per HTML page
warc     docs (2e6)     warc_records over plain + per-record-gzip segments
trainset docs (2e6)     the warc_trainset_e2e path: record walk, filters,
                        main text, token gate, exact-dedup window
======== ============== ==================================================

Run it from the repository root (Spark's Python workers import ``frontier``
from the working directory). ``n_low`` defaults to ``bench.N_LOW``, a
quarter of the box's cores, so a 4-core box runs local[1] vs local[4].
``SCALING_ROUNDS`` (default 3) sets the rounds; ``SCALING_GATE_WAIT``
(default 600 s) bounds each sample's wait for a quiet host phase.

Methodology (hard-won on a shared VM with multi-minute noise phases):

- The input is materialized once (untimed, local[bench.CPUS], 8 input
  partitions per core, deep 2) and shared by both levels.
- Levels are INTERLEAVED over the rounds; every visit starts a fresh
  session, runs one untimed warm-up (JIT, Python worker pool, page cache)
  and then 2 timed samples. Each sample is probe-gated and flushed
  (bench.gated_sample): it waits for a quiet memcpy phase, ``os.sync()``s,
  and counts as quiet only if the probes before and after it both clear
  the bar.
- All levels share one machine and one memory bus, so the high level pays
  bandwidth/GC contention a real 4N-executor cluster would not: the
  efficiency is a LOWER bound on cluster scaling.

Writes one JSON schema to BENCH/ (crawl: ``scaling_{lo}v{hi}[_{N}M].json``,
deep: ``depth11_{N}M.json``, the rest: ``scaling_{kernel}_{lo}v{hi}.json``)::

    kernel, n, nproc, heap, rounds   what ran, on what box
    units                            the input's unit counts (urls, waves,
                                     edges, records, corpus rows, payload
                                     bytes — whichever the kernel has)
    low, high                        per level: cpus; seconds (the min, the
                                     headline); {unit}_per_sec (and
                                     mb_per_sec) at the min; spread (median,
                                     quartiles, min, max, n of all samples);
                                     samples (sec, quiet, waited_s and both
                                     probes of each); deep adds the fastest
                                     crawl's wave_timings
    scaling_efficiency               from the two headlines
    probes                           host probes before and after the rounds
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (
    CPUS,
    SCRATCH,
    build_spark,
    crawl_once,
    driver_heap,
    gated_sample,
    host_phase_probe,
    host_seeds,
    N_LOW,
    spread,
)

ROUNDS = int(os.environ.get("SCALING_ROUNDS", "3"))
GATE_WAIT_S = float(os.environ.get("SCALING_GATE_WAIT", "600"))
SAMPLES = 2  # timed samples per level visit


class Kernel(NamedTuple):
    """What differs between kernels; the harness body does the rest."""

    unit: str  # the units key throughput is counted in
    n: int  # default input size
    #: (spark, workdir, n) -> (input path, unit counts): materialize once
    build: Callable
    #: (spark, path, n) -> action: open the input in this session (untimed)
    #: and return the one timed action; a dict it returns rides along in
    #: the level record of the fastest sample
    job: Callable
    #: (n_low, n_high, units) -> BENCH/ file name
    artifact: Callable


# -- crawl / deep: the wave engine over a suffix-clustered fetch store ------

CHAIN = 10  # deepest fully-crawlable chain under MAX_RECURSION_LEVEL=11
DEEP_PAGES_PER_LEAF = 100


def _open_store(spark, path):
    # store preparation is once-per-store work (an Iceberg store would be
    # redirect-resolved offline), not per-crawl — prepared outside timing
    from frontier.waves import prepare_fetches

    return prepare_fetches(spark.read.parquet(path), resolve_redirects=False)


def _crawl_units(spark, path, seeds) -> dict:
    pages, nodes = crawl_once(spark, _open_store(spark, path), seeds)
    return {"hosts": len(seeds), "urls": pages + nodes - len(seeds)}


def _build_crawl(spark, workdir, n):
    from frontier.synth import synth_crawl_corpus
    from frontier.waves import cluster_fetch_store

    path = os.path.join(workdir, "corpus")
    cluster_fetch_store(
        synth_crawl_corpus(
            spark, n, leaves_per_host=4, pages_per_leaf=250,
            partitions=8 * CPUS,
        ),
        path,
    )
    return path, _crawl_units(spark, path, host_seeds("host", n))


def _build_deep(spark, workdir, n):
    from frontier import waves as W
    from frontier.synth import synth_deep_corpus

    path = os.path.join(workdir, "corpus")
    W.cluster_fetch_store(
        synth_deep_corpus(
            spark, n, chain_depth=CHAIN, pages_per_leaf=DEEP_PAGES_PER_LEAF,
            partitions=2 * CPUS,
        ),
        path,
    )
    units = _crawl_units(spark, path, host_seeds("deep", n))
    return path, {
        "chain_depth": CHAIN,
        "pages_per_leaf": DEEP_PAGES_PER_LEAF,
        **units,
        "waves": len(W.LAST_WAVE_TIMINGS),
    }


def _crawl_job(prefix: str, per_wave: bool):
    def job(spark, path, n):
        from frontier import waves as W

        corpus, seeds = _open_store(spark, path), host_seeds(prefix, n)

        def action():
            crawl_once(spark, corpus, seeds)
            if per_wave:
                return {"wave_timings": list(W.LAST_WAVE_TIMINGS)}

        return action

    return job


# -- outlinks: the link-discovery Arrow kernel over HTML pages -------------

LINKS_PER_PAGE = 20

# ~20 links + filler text per page, built as pure codegen over range():
# page i links to hosts h{(i*7+j) % 997}, mixing absolute/relative targets
_PAGES_SQL = f"""
SELECT 'http://site' || CAST(id % 4096 AS STRING) || '.example.com/dir/p'
           || CAST(id AS STRING) || '.html' AS url,
       encode('<html><head><title>p' || CAST(id AS STRING)
           || '</title></head><body><p>filler text for page '
           || CAST(id AS STRING) || ' lorem ipsum dolor sit amet</p>'
           || concat_ws('', transform(sequence(0, {LINKS_PER_PAGE - 1}, 1),
                  j -> CASE WHEN j % 4 = 0
                       THEN '<a href="rel' || CAST(id + j AS STRING)
                            || '.html">r</a>'
                       ELSE '<a href="http://h'
                            || CAST((id * 7 + j) % 997 AS STRING)
                            || '.example.net/x' || CAST(id + j AS STRING)
                            || '">x</a>' END))
           || '</body></html>', 'utf-8') AS html
FROM range(0, {{n}})
"""


def _links(spark, path):
    from frontier.pages import extract_links

    return extract_links(spark.read.parquet(path))


def _build_outlinks(spark, workdir, n):
    path = os.path.join(workdir, "pages")
    spark.sql(_PAGES_SQL.format(n=n)).repartition(8 * CPUS).write.mode(
        "overwrite"
    ).parquet(path)
    return path, {"pages": n, "edges": _links(spark, path).count()}


# -- warc / trainset: one segment store, plain + per-record-gzip 50/50 -----

# ~300-char unique bodies, deterministic in id — the documents-table shape
# synth_warc_segments expects (doc_id, text); unique so the trainset dedup
# window shuffles every fingerprint (its worst case)
_DOCS_SQL = """
SELECT id AS doc_id,
       repeat('lorem ipsum dolor sit amet consectetur ', 8)
         || CAST(id AS STRING) AS text
FROM range(0, {n})
"""


def _warc_store(spark, workdir, n) -> tuple[str, dict]:
    from frontier.synth import synth_warc_segments

    path = os.path.join(workdir, "segments")
    docs = spark.sql(_DOCS_SQL.format(n=n)).repartition(8 * CPUS)
    synth_warc_segments(docs).write.mode("overwrite").parquet(path)
    n_bytes = (
        spark.read.parquet(path)
        .selectExpr("CAST(sum(length(payload)) AS BIGINT)")
        .first()[0]
    )
    return path, {"docs": n, "payload_bytes": n_bytes}


def _responses(spark, path):
    from frontier.warc import warc_records

    return warc_records(spark.read.parquet(path), responses_only=True)


def _build_warc(spark, workdir, n):
    path, units = _warc_store(spark, workdir, n)
    return path, {**units, "records": _responses(spark, path).count()}


def _trainset(spark, path):
    """The warc_trainset_e2e path: record walk + status/type filter +
    noindex gate + main-text kernel + token gate + exact-dedup window (the
    pipeline's one shuffle)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from frontier.pages import extract_main_text, noindex_flags

    recs = _responses(spark, path).filter(
        (F.col("http_status") == 200) & (F.col("content_type") == "text/html")
    )
    recs = noindex_flags(recs, x_robots_col="x_robots").filter(
        ~F.col("noindex")
    )
    main = extract_main_text(recs).select("url", "main_text")
    words = F.filter(
        F.split(F.lower("main_text"), "[^a-z0-9]+"), lambda x: x != ""
    )
    scored = main.select(
        "url",
        F.size(words).cast("long").alias("n_tokens"),
        F.md5("main_text").alias("fp"),
    ).filter(F.col("n_tokens") >= 5)
    w = Window.partitionBy("fp").orderBy("url")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _build_trainset(spark, workdir, n):
    path, units = _warc_store(spark, workdir, n)
    return path, {**units, "corpus_rows": _trainset(spark, path).count()}


def _sink(df):
    """The timed action of a DataFrame kernel: run it to the no-op sink."""
    return lambda: df.write.format("noop").mode("overwrite").save()


def _scaling_name(kernel: str):
    return lambda lo, hi, units: f"scaling_{kernel}_{lo}v{hi}.json"


def _crawl_name(lo, hi, units):
    urls = units["urls"]
    tag = f"_{round(urls / 1_000_000)}M" if urls >= 10**6 else ""
    return f"scaling_{lo}v{hi}{tag}.json"


KERNELS: dict[str, Kernel] = {
    "crawl": Kernel(
        "urls", 8000, _build_crawl, _crawl_job("host", per_wave=False),
        _crawl_name,
    ),
    "deep": Kernel(
        "urls", 1100, _build_deep, _crawl_job("deep", per_wave=True),
        lambda lo, hi, units: f"depth11_{round(units['urls'] / 1e6)}M.json",
    ),
    "outlinks": Kernel(
        "edges", 2_000_000, _build_outlinks,
        lambda spark, path, n: _sink(_links(spark, path)),
        _scaling_name("outlinks"),
    ),
    "warc": Kernel(
        "records", 2_000_000, _build_warc,
        lambda spark, path, n: _sink(_responses(spark, path)),
        _scaling_name("warc"),
    ),
    "trainset": Kernel(
        "docs", 2_000_000, _build_trainset,
        lambda spark, path, n: _sink(_trainset(spark, path)),
        _scaling_name("trainset"),
    ),
}


def visit(spark, kernel: Kernel, path: str, n: int) -> list[dict]:
    """One level visit in a fresh session: untimed warm-up, then the gated
    timed samples."""
    action = kernel.job(spark, path, n)
    action()
    return [gated_sample(action, GATE_WAIT_S) for _ in range(SAMPLES)]


def level_record(kernel: Kernel, units: dict, cpus: int, samples) -> dict:
    best = min(samples, key=lambda s: s["sec"])
    sec = best["sec"]
    record = {
        "cpus": cpus,
        "seconds": round(sec, 2),
        f"{kernel.unit}_per_sec": round(units[kernel.unit] / sec, 1),
    }
    if "payload_bytes" in units:
        record["mb_per_sec"] = round(units["payload_bytes"] / 1e6 / sec, 1)
    record["spread"] = spread([s["sec"] for s in samples])
    record["samples"] = [
        {k: v for k, v in s.items() if k != "out"} for s in samples
    ]
    record.update(best["out"] or {})
    return record


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in KERNELS:
        sys.exit(__doc__.split("\n\n")[1] + f"\nKERNEL: {', '.join(KERNELS)}")
    name = sys.argv[1]
    kernel = KERNELS[name]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else kernel.n
    n_low = int(sys.argv[3]) if len(sys.argv) > 3 else N_LOW
    levels = (n_low, 4 * n_low)

    workdir = os.path.join(SCRATCH or "/tmp", f"bench_{name}_{os.getpid()}")
    samples: dict[int, list[dict]] = {cpus: [] for cpus in levels}
    try:
        spark = build_spark(CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            path, units = kernel.build(spark, workdir, n)
        finally:
            spark.stop()
        print(f"{name} input: {units}", file=sys.stderr)

        probe_before = host_phase_probe()
        for rnd in range(ROUNDS):
            for cpus in levels:
                spark = build_spark(cpus)
                spark.sparkContext.setLogLevel("ERROR")
                try:
                    got = visit(spark, kernel, path, n)
                finally:
                    spark.stop()
                samples[cpus].extend(got)
                print(
                    f"round {rnd} local[{cpus}]: "
                    f"{[s['sec'] for s in got]} s",
                    file=sys.stderr,
                )
        probe_after = host_phase_probe()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    low, high = (level_record(kernel, units, c, samples[c]) for c in levels)
    rate = f"{kernel.unit}_per_sec"
    result = {
        "kernel": name,
        "n": n,
        "nproc": len(os.sched_getaffinity(0)),
        "heap": driver_heap(),
        "rounds": ROUNDS,
        "units": units,
        "low": low,
        "high": high,
        "scaling_efficiency": round(
            (high[rate] / low[rate]) / (levels[1] / levels[0]), 3
        ),
        "probes": {"before": probe_before, "after": probe_after},
    }
    print(json.dumps(result))
    os.makedirs("BENCH", exist_ok=True)
    artifact = os.path.join("BENCH", kernel.artifact(*levels, units))
    with open(artifact, "w") as fh:
        json.dump(result, fh, indent=1)


if __name__ == "__main__":
    main()
