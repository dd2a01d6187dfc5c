"""Peel the leaf-wave (wave 2) cost layers at one parallelism level.

    python scripts/profile_wave2.py [cpus] [n_hosts]

Layers, each timed after one warm-up pass:
  scan      leaf-bucket parquet scan + sum(length(body))      (JVM only)
  join      + broadcast semi-join of the wave's URL set       (JVM only)
  arrow     + mapInArrow passthrough kernel (no parse)        (+Arrow+worker)
  full      + real kernel, page records to a tmpfs sink       (everything)

The gap between consecutive layers attributes wall time; comparing runs at
N and 4N cpus shows which layer stops scaling. ``cpus`` defaults to
``bench.CPUS`` (the box's cores).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa

from bench import CPUS as BOX_CPUS, build_spark

CPUS = int(sys.argv[1]) if len(sys.argv) > 1 else BOX_CPUS
N_HOSTS = int(sys.argv[2]) if len(sys.argv) > 2 else 2000


def main() -> None:
    from pyspark.sql import functions as F

    from frontier.synth import synth_crawl_corpus
    from frontier.waves import PARSE_OUT_SCHEMA, cluster_fetch_store
    from frontier.udfs import make_parse_wave

    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    scratch = "/dev/shm/frontier_bench"
    corpus_path = os.path.join(scratch, f"profile_wave2_{os.getpid()}")
    cluster_fetch_store(
        synth_crawl_corpus(
            spark, N_HOSTS, leaves_per_host=4, pages_per_leaf=250, partitions=64
        ),
        corpus_path,
    )
    store = spark.read.parquet(corpus_path)
    leaves = store.filter(F.col("url").contains("/leaf_"))

    # the wave's pending URL set (thin, like a real wave's fetchable frame)
    pending = leaves.select(
        "url",
        F.lit("http://seed/").alias("seed"),
        F.lit("http://parent/").alias("parent_url"),
        F.lit(0).alias("seq"),
        F.lit(2).alias("level"),
        F.array(F.lit(0)).alias("lineage"),
        F.lit("0.0").alias("path_key"),
        F.array().cast("array<string>").alias("parent_urls"),
        F.lit(False).alias("quiet_404"),
        F.lit(None).cast("string").alias("blocked_reason"),
    ).localCheckpoint()

    def joined():
        return store.filter(F.col("url").contains("/leaf_")).join(
            F.broadcast(pending), "url", "inner"
        ).coalesce(2 * spark.sparkContext.defaultParallelism)

    def passthrough(batches):
        n = 0
        for b in batches:
            n += b.num_rows
        yield pa.RecordBatch.from_pylist(
            [], schema=pa.schema([pa.field("n", pa.int64())])
        )

    def t(label, thunk):
        thunk()
        best = min(
            (lambda t0=time.perf_counter(): (thunk(), time.perf_counter() - t0)[1])()
            for _ in range(2)
        )
        print(f"{label:8s} {best:7.2f}s", flush=True)

    t("scan", lambda: leaves.agg(F.sum(F.length("body"))).collect())
    t("join", lambda: joined().agg(F.sum(F.length("body"))).collect())
    t(
        "arrow",
        lambda: joined()
        .mapInArrow(passthrough, "n long")
        .agg(F.count("*"))
        .collect(),
    )
    import tempfile

    def full():
        d = tempfile.mkdtemp(dir=scratch)
        joined().mapInArrow(make_parse_wave(d), PARSE_OUT_SCHEMA).agg(
            F.sum("n_pages")
        ).collect()
        import shutil

        shutil.rmtree(d, ignore_errors=True)

    t("full", full)

    import shutil

    shutil.rmtree(corpus_path, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
