"""Bucketed-table co-location: pre-shuffled storage for the frontier's
repeat-join tables.

The north-rule scenario joins the same giant tables every crawl round: the
10^10-row URL-seen table (anti-joined by every wave), the historical MinHash
band index (probed by every ingest batch — ``dedup_incremental_minhash``),
and the fetch store. A hash-bucketed table (``DataFrameWriter.bucketBy``)
pays its shuffle ONCE at write time; after that, every equi-join / anti-join
/ groupBy on the bucket key reads the buckets as pre-partitioned input and
Catalyst drops that side's Exchange entirely:

* seen-set anti-join per wave: the 10^10-row side never re-shuffles — only
  the wave's (small) candidate slice hashes into the seen table's bucket
  layout (ONE exchange, candidate-sized);
* two tables bucketed with the SAME key and bucket count (e.g. seen set and
  its per-round delta during compaction) join with ZERO exchanges;
* ``sortBy`` within buckets additionally drops the SortMergeJoin's sort on
  single-file buckets.

This is the Iceberg story too: on a real cluster these writers become
``writeTo(...).partitionedBy(bucket(N, col))`` and the same plans fall out
of Spark's storage-partitioned joins. In this sandbox the native parquet
bucketed-table path (session catalog, explicit ``path`` → external table)
demonstrates the identical physical-plan property, asserted by
tests/test_bucketed.py.

Sizing at scale: buckets should hold ~1 GB each (10^10 URLs × ~60 B ≈
600 GB → n_buckets ≈ 512–1024). Bucket count is a join-compatibility
contract — pick a power of two and keep it stable across tables that must
co-join; Spark 3.4+ can coalesce a 4× mismatch
(spark.sql.bucketing.coalesceBucketsInJoin.enabled) but identical counts
never need it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def save_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    key: str,
    n_buckets: int,
    sort: bool = True,
) -> None:
    """Write ``df`` as an external parquet table hash-bucketed on ``key``.

    The one-time shuffle that ``bucketBy`` implies at write time is the
    shuffle all later joins on ``key`` skip. ``sort=True`` additionally
    orders rows within each bucket file so SortMergeJoins over single-file
    buckets skip their Sort as well.
    """
    writer = df.write.mode("overwrite").format("parquet")
    writer = writer.bucketBy(n_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.option("path", path).saveAsTable(name)


def open_bucketed(spark: SparkSession, name: str) -> DataFrame:
    """Read a bucketed table back WITH its bucket metadata.

    ``spark.read.parquet(path)`` would see the same rows but lose the
    bucket spec (bucketing lives in the catalog, not the files) — the
    Exchange elision only happens via ``spark.table``.
    """
    return spark.table(name)


def seen_anti_join_bucketed(
    spark: SparkSession,
    candidates: DataFrame,
    seen_table: str,
    url_col: str = "url",
) -> DataFrame:
    """Anti-join wave candidates against a bucketed seen table.

    Physical shape (asserted by test): the seen-table side reads its
    buckets directly — NO exchange on the 10^10-row side; only the
    candidate side shuffles (into the seen table's bucket layout). The
    crawl's seen set (frontier.dedup.UrlSeenSet) is the same exact
    left-anti join over an unbucketed parquet table; this is its
    exchange-free layout for a catalog-registered seen table.
    """
    seen = open_bucketed(spark, seen_table).select(url_col)
    return candidates.join(seen, on=url_col, how="left_anti")
