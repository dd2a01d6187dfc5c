"""sf1-scale cost-curve sweep (round-4 verdict #8): replicate the sf0.1
corpus tables 10x (key-shifted, deterministic — no external data) into a
tmpfs sf1 directory, then time a representative slice of the registry at
sf0.1 vs sf1 and report the per-query time ratio against the 10x row
factor. A ratio well above ~10 on a linear-shaped operator (or above the
expected n·log n / LSH-candidate growth for the super-linear ones) means
the cost curve bends; the plan pins argue it doesn't — this measures it.

    python scripts/bench_sf1.py [queries...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SCRATCH, build_spark, host_phase_probe

SF01 = "/root/testdata/sf0.1"
REPL = 10

# representative slice: the heaviest family members (fuzzy dedup e2e,
# graph, BPE, WARC, media decode, packing, sketches) plus a few linear
# scans as controls
DEFAULT_QUERIES = [
    "text_lang_id",            # linear control
    "text_quality_score",      # linear control
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash_hamming",
    "dedup_fuzzy_e2e",
    "dedup_cluster_cc",
    "ann_cosine_topk",
    "dedup_embedding_cosine",
    "embedding_kmeans_refine",
    "bpe_train_merges",
    "bpe_encode_corpus",
    "host_pagerank",
    "host_hits_scores",
    "warc_ingest",
    "warc_dedup_digest",
    "trainset_pack_sequences",
    "paragraph_dedup",
    "token_cms_topk",
    "host_url_hll",
    "decontam_bloom",
    "media_mixed_pixel_stats",
    "media_flac_pcm_stats",
    "dedup_media_embedding_cosine",
    "webtext_pipeline_e2e",
]


def build_sf1(spark, dest: str) -> None:
    """10x key-shifted replication of every sf0.1 table. Key columns are
    offset per copy so uniqueness and cross-table joins stay consistent;
    pure-dimension tables (region, nation) are copied once unchanged to
    preserve their semantics."""
    from pyspark.sql import functions as F

    os.makedirs(dest, exist_ok=True)
    # only the tables the swept registry families read are replicated;
    # the TPC-H star tables are copied unchanged so no cross-table key
    # shift can skew a join's cardinality
    shifts = {
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
        "events": ["event_id", "user_id"],
    }
    for table in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings".split()
    ):
        src = spark.read.parquet(f"{SF01}/{table}.parquet")
        if table in shifts:
            n = src.count()
            copies = []
            for k in range(REPL):
                df = src
                for col in shifts[table]:
                    df = df.withColumn(
                        col, (F.col(col) + F.lit(k * n)).cast("long")
                    )
                copies.append(df)
            out = copies[0]
            for df in copies[1:]:
                out = out.unionByName(df)
        else:
            out = src
        out.coalesce(8).write.mode("overwrite").parquet(
            f"{dest}/{table}.parquet"
        )


def main() -> None:
    only = sys.argv[1:] or DEFAULT_QUERIES
    sf1_dir = os.path.join(SCRATCH or "/tmp", "sf1")

    spark = build_spark(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    def time_one(name, sf_dir):
        start = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - start

    result = {"repl": REPL, "queries": {}, "probe": {}}
    try:
        if not os.path.exists(f"{sf1_dir}/documents.parquet"):
            build_sf1(spark, sf1_dir)
        result["probe"]["before"] = host_phase_probe(1.0)
        # warm-up pass at both SFs (JIT, python workers), then two timed
        # interleaved passes per SF; min per (query, sf)
        for name in only:
            time_one(name, SF01)
            time_one(name, sf1_dir)
        times: dict[str, dict[str, list[float]]] = {
            n: {"sf0.1": [], "sf1": []} for n in only
        }
        for _pass in range(2):
            for name in only:
                times[name]["sf0.1"].append(time_one(name, SF01))
                times[name]["sf1"].append(time_one(name, sf1_dir))
        result["probe"]["after"] = host_phase_probe(1.0)
        for name in only:
            lo = min(times[name]["sf0.1"])
            hi = min(times[name]["sf1"])
            result["queries"][name] = {
                "sf0.1_s": round(lo, 3),
                "sf1_s": round(hi, 3),
                "ratio": round(hi / lo, 2),
            }
    finally:
        spark.stop()

    print(json.dumps(result))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/sf1_sweep.json", "w") as fh:
        json.dump(result, fh, indent=1)
    shutil.rmtree(sf1_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
