"""R8 — URL-seen set at 10^10 scale (SURVEY.md §2.4, north rule).

The reference keeps no global visited set (only per-sitemap first-wins dedup
and ancestor sets); at web scale re-fetching already-seen sitemap/page URLs
across seeds and crawl rounds dominates cost. Design:

- the crawl's seen filter (:class:`UrlSeenSet`) is one exact left-anti join
  of the candidates against the seen table, planned entirely in the JVM.
  A Bloom prefilter in front of it does not pay here: the confirming
  anti-join reads the whole seen table whatever the Bloom rejects, so the
  Bloom only adds a Python pass per application (measured in
  ``BENCH/seen_filter.json``);
- the seen table is a compacted parquet/Iceberg table of distinct URLs,
  appended per crawl round (``record_seen``);
- the Bloom functions below serve the member path: ``make_member_filter``
  keeps the candidates whose key IS in a set too big to broadcast as a
  join hash table (``decontam_bloom``). It is exactness-safe: a Bloom has
  no false negatives, and every positive is confirmed by an exact
  semi-join. Membership and build are fully VECTORIZED (pandas ``hash_array`` double hashing + numpy bit ops
  over whole Arrow batches — no per-row Python), in two physical
  strategies, auto-selected by bitmap size:
  * broadcast: one bitmap built distributed (per-partition partials,
    OR-reduced) and broadcast — right while the bitmap fits comfortably
    in executor memory;
  * sharded: the bitmap is split by URL-hash range into ``n_shards``
    independent bitmaps that live in a DataFrame and meet their candidate
    rows through a co-grouped shuffle — NO driver collect, NO broadcast,
    per-task memory = one shard. At 10^10 keys / 3% fpp (~9 GB of bitmap)
    this is the only feasible layout.
"""

from __future__ import annotations

import hashlib
import math
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

#: Above this bitmap size the broadcast strategy yields to sharding.
BROADCAST_BITMAP_BYTES = 64 * 1024 * 1024

#: Default per-shard bitmap target in the sharded strategy.
SHARD_BITMAP_BYTES = 32 * 1024 * 1024


def _bloom_params(expected: int, fpp: float) -> tuple[int, int]:
    m_bits = max(64, int(math.ceil(-expected * math.log(fpp) / (math.log(2) ** 2))))
    m_bits = (m_bits + 7) // 8 * 8
    k = max(1, round(m_bits / max(1, expected) * math.log(2)))
    return m_bits, min(k, 16)


def _hash_keys(salt: bytes) -> tuple[str, str]:
    """Two independent 16-char keys for pandas' SipHash-based hash_array."""
    return (
        hashlib.blake2b(salt + b"#1", digest_size=8).hexdigest(),
        hashlib.blake2b(salt + b"#2", digest_size=8).hexdigest(),
    )


def _hash2(urls, salt: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized double hash of a url array: two uint64 lanes from pandas'
    C hash kernel (no per-row Python)."""
    arr = np.asarray(urls, dtype=object)
    k1, k2 = _hash_keys(salt)
    h1 = pd.util.hash_array(arr, hash_key=k1, categorize=False)
    h2 = pd.util.hash_array(arr, hash_key=k2, categorize=False) | np.uint64(1)
    return h1, h2


def _positions_many(
    h1: np.ndarray, h2: np.ndarray, m_bits: int, k: int
) -> np.ndarray:
    """(n, k) Kirsch-Mitzenmacher bit positions."""
    ks = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(m_bits)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.reshape(-1)
    np.bitwise_or.at(bits, flat // 8, (1 << (flat % 8)).astype(np.uint8))


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """(n,) bool: all k bits set per row."""
    hit = (bits[pos // 8] & (1 << (pos % 8)).astype(np.uint8)) != 0
    return hit.all(axis=1)


class BloomFilter:
    """Minimal broadcastable Bloom over URL strings (vectorized probes)."""

    __slots__ = ("m_bits", "k", "salt", "bits")

    def __init__(self, m_bits: int, k: int, salt: bytes, bits: np.ndarray) -> None:
        self.m_bits = m_bits
        self.k = k
        self.salt = salt
        self.bits = bits  # uint8 bitmap of length m_bits // 8

    def might_contain_many(self, urls) -> np.ndarray:
        if len(urls) == 0:
            return np.zeros(0, dtype=bool)
        h1, h2 = _hash2(urls, self.salt)
        return _test_bits(self.bits, _positions_many(h1, h2, self.m_bits, self.k))

    def might_contain(self, url: str) -> bool:
        return bool(self.might_contain_many([url])[0])


def build_bloom(
    df: DataFrame, url_col: str, expected: int, fpp: float, salt: bytes = b"frontier"
) -> BloomFilter:
    """Distributed Bloom build: per-partition partial bitmaps OR-reduced.
    Driver holds one bitmap per partition transiently — use the sharded
    strategy instead once the bitmap outgrows broadcast size."""
    m_bits, k = _bloom_params(expected, fpp)
    n_bytes = m_bits // 8

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.zeros(n_bytes, dtype=np.uint8)
        for batch in batches:
            if len(batch):
                h1, h2 = _hash2(batch[url_col].to_numpy(), salt)
                _set_bits(bits, _positions_many(h1, h2, m_bits, k))
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    parts = df.select(url_col).mapInPandas(partial, "bits binary").collect()
    merged = np.zeros(n_bytes, dtype=np.uint8)
    for row in parts:
        merged |= np.frombuffer(row.bits, dtype=np.uint8)
    return BloomFilter(m_bits, k, salt, merged)


def _shard_col(url_col: str, n_shards: int):
    """JVM-side shard assignment (codegen xxhash64) — decoupled from the
    Python-side in-shard bit hashing, which is fine for a Bloom."""
    return F.pmod(F.xxhash64(F.col(url_col), F.lit(1337)), F.lit(n_shards)).cast(
        "int"
    )


def build_bloom_shards(
    seen: DataFrame,
    url_col: str,
    expected: int,
    fpp: float,
    n_shards: int,
    salt: bytes = b"frontier",
) -> DataFrame:
    """Sharded build → DataFrame ``(shard int, bits binary)``: each shard's
    bitmap is built by the tasks owning that hash range. Nothing is
    collected; per-task memory is one shard bitmap."""
    m_bits, k = _bloom_params(max(1, expected // n_shards), fpp)
    n_bytes = m_bits // 8

    def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(n_bytes, dtype=np.uint8)
        if len(pdf):
            h1, h2 = _hash2(pdf[url_col].to_numpy(), salt)
            _set_bits(bits, _positions_many(h1, h2, m_bits, k))
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "bits": [bits.tobytes()]}
        )

    return (
        seen.select(url_col, _shard_col(url_col, n_shards).alias("shard"))
        .groupBy("shard")
        .applyInPandas(build_group, "shard int, bits binary")
    )


def make_member_filter(
    members: DataFrame,
    key_col: str = "url",
    expected_keys: int = 1_000_000,
    fpp: float = 0.03,
    n_shards: int | None = None,
    salt: bytes = b"frontier",
):
    """Reusable ``candidates → candidates whose key IS in members`` closure,
    exact.

    The Bloom bitmap stands in for a broadcast hash table when the member
    set is too big to broadcast (a 10^9-gram benchmark-decontamination
    blocklist, a 10^10-URL seen set used positively): bloom-negatives are
    discarded map-side without any join (no false negatives — a member key
    always flags True), and only the positive slice (~fpp of the stream +
    true hits) meets the member table in an exact semi-join. The candidate
    stream is never shuffled on the full key space.

    The Bloom side is built once, here, and reused by every application:
    one broadcast bitmap, or — with ``n_shards`` or above
    BROADCAST_BITMAP_BYTES — a persisted DataFrame of per-shard bitmaps that
    candidates meet through a co-grouped shuffle on the url-hash shard (no
    bitmap ever reaches the driver or a broadcast).

    ``release()`` on the returned closure frees that Bloom side (unpersists
    the shard bitmaps, or destroys the broadcast bitmap); call it once no
    DataFrame the closure returned is read any more."""
    m_bits, _ = _bloom_params(expected_keys, fpp)
    if n_shards is None and m_bits // 8 > BROADCAST_BITMAP_BYTES:
        n_shards = max(1, math.ceil((m_bits // 8) / SHARD_BITMAP_BYTES))

    from pyspark.sql.types import BooleanType, StructField, StructType

    # each strategy's ``flag_df(candidates, schema)`` appends
    # ``_maybe_member``, True for every member key (no false negatives)
    if n_shards is not None:
        # cache the shard bitmaps: built once on first application, reused
        # by every later one. persist (not localCheckpoint) keeps lineage,
        # so a lost executor recomputes its shards instead of failing the
        # query, and a one-shot caller pays nothing until consumption.
        from pyspark import StorageLevel

        shards = build_bloom_shards(
            members, key_col, expected_keys, fpp, n_shards, salt
        ).persist(StorageLevel.MEMORY_AND_DISK)
        sm_bits, sk = _bloom_params(max(1, expected_keys // n_shards), fpp)

        def probe_group(cand: pd.DataFrame, bits_pdf: pd.DataFrame) -> pd.DataFrame:
            cand = cand.drop(columns=["shard"])
            if not len(cand):
                return cand.assign(_maybe_member=np.zeros(0, dtype=bool))
            if not len(bits_pdf):  # shard holds no member keys at all
                return cand.assign(_maybe_member=False)
            bits = np.frombuffer(bits_pdf["bits"].iloc[0], dtype=np.uint8)
            h1, h2 = _hash2(cand[key_col].to_numpy(), salt)
            flags = _test_bits(bits, _positions_many(h1, h2, sm_bits, sk))
            return cand.assign(_maybe_member=flags)

        def flag_df(candidates: DataFrame, schema: StructType) -> DataFrame:
            return (
                candidates.withColumn("shard", _shard_col(key_col, n_shards))
                .groupBy("shard")
                .cogroup(shards.groupBy("shard"))
                .applyInPandas(probe_group, schema)
            )

        def release() -> None:
            shards.unpersist()

    else:
        bloom = build_bloom(members, key_col, expected_keys, fpp, salt)
        bloom_bc = members.sparkSession.sparkContext.broadcast(bloom)

        def flag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            bf = bloom_bc.value
            for batch in batches:
                flags = bf.might_contain_many(batch[key_col].to_numpy())
                yield batch.assign(_maybe_member=flags)

        def flag_df(candidates: DataFrame, schema: StructType) -> DataFrame:
            return candidates.mapInPandas(flag, schema)

        def release() -> None:
            bloom_bc.destroy()

    def apply(candidates: DataFrame) -> DataFrame:
        schema = StructType(
            list(candidates.schema.fields)
            + [StructField("_maybe_member", BooleanType())]
        )
        suspects = (
            flag_df(candidates, schema)
            .filter(F.col("_maybe_member"))
            .drop("_maybe_member")
        )
        return suspects.join(
            members.select(F.col(key_col)), key_col, "left_semi"
        )

    apply.release = release
    return apply


#: Hidden file (Spark's reader skips ``_``-prefixed names) that
#: ``UrlSeenSet.record_seen`` drops in the table directory before it
#: appends; a live table without it holds nothing appended since its last
#: compaction.
_UNCOMPACTED = "_uncompacted"
#: The seen table's one column.
_SEEN_SCHEMA = "url string"


class UrlSeenSet:
    """Persistent URL-seen set: a parquet table of distinct URLs, filtered
    against with one exact left-anti join.

    ``expected_urls`` and ``fpp`` size a Bloom over this table for callers
    that build one (:func:`build_bloom`, :func:`make_member_filter`); the
    seen filter itself is the plain anti-join and does not use them."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        expected_urls: int = 1_000_000,
        fpp: float = 0.03,
    ) -> None:
        self.spark = spark
        self.path = path
        self.expected_urls = expected_urls
        self.fpp = fpp

    def _seen_table(self) -> DataFrame | None:
        """The table read with its declared schema, so reading it launches
        no schema-inference job; None only while no table directory exists
        (no rounds recorded yet). A directory without data files (a crash
        between the mark and the first append) reads as an empty table, and
        an unreadable data file fails the query that reads it."""
        self._recover()  # a crashed compaction may hold the live copy
        if not os.path.isdir(self.path.rstrip("/")):
            return None
        return self.spark.read.schema(_SEEN_SCHEMA).parquet(self.path)

    def filter_unseen(self, candidates: DataFrame, url_col: str = "url") -> DataFrame:
        """Rows of ``candidates`` whose URL is NOT in the seen set (one-shot
        form of :meth:`prepare_filter`)."""
        return self.prepare_filter(url_col)(candidates)

    def prepare_filter(self, url_col: str = "url"):
        """Reusable ``candidates → unseen`` closure over the CURRENT seen
        table: an exact left-anti join, planned entirely in the JVM (no
        Python pass). The table's file listing is fixed here, so rounds
        recorded later do not change what the closure filters. Identity
        while no rounds are recorded yet.

        The join reads the whole seen table on every application, so a
        caller that applies the closure to one frontier several times (a
        wave loop: bucket list, parse, miss detection) should materialize
        its result once."""
        seen = self._seen_table()
        if seen is None:
            return lambda candidates: candidates
        seen_urls = seen.select(F.col("url").alias(url_col))
        return lambda candidates: candidates.join(seen_urls, url_col, "left_anti")

    def record_seen(self, urls: DataFrame, url_col: str = "url") -> None:
        """Append this round's URLs (compacted to distinct) to the table.

        The table is marked uncompacted before the append, so a crash
        between the two costs one extra compaction, never a skipped one. A
        compaction that crashed in its rename window is finished first: an
        append to a fresh directory would hide the old table from
        :meth:`_recover`."""
        self._recover()
        base = self.path.rstrip("/")
        os.makedirs(base, exist_ok=True)
        open(os.path.join(base, _UNCOMPACTED), "w").close()
        (
            urls.select(F.col(url_col).alias("url"))
            .distinct()
            .write.mode("append")
            .parquet(self.path)
        )

    def _recover(self) -> None:
        """Finish a compaction that crashed between its two renames.

        Invariant: outside the rename window the live table is at ``path``.
        A crash between rename(base→trash) and rename(tmp→base) leaves NO
        base but a ``__trash-*`` sibling holding the complete old table —
        restoring it loses nothing (the crashed compaction's ``__compact-*``
        snapshot holds the same distinct URL set)."""
        base = self.path.rstrip("/")
        if os.path.exists(base):
            return
        parent, name = os.path.split(base)
        trash = sorted(
            entry
            for entry in (os.listdir(parent) if os.path.isdir(parent) else [])
            if entry.startswith(name + "__trash-")
        )
        if trash:
            os.rename(os.path.join(parent, trash[0]), base)

    def compact(self) -> None:
        """Rewrite the table as a single distinct snapshot (periodic
        compaction per the north rule).

        A no-op, with no Spark job, when nothing was appended since the last
        compaction: only a table that :meth:`record_seen` marked
        uncompacted is rewritten, and the fresh snapshot carries no mark. A
        table written before the mark existed is compacted on its next
        append; until then it may hold duplicates, which the seen filter's
        anti-join answers exactly.

        Crash-safe on a rename-atomic filesystem: the snapshot is written
        to a temp sibling, the live table is swapped out via two renames
        (old → trash, tmp → live), and the trash + leftover temp dirs are
        removed last. A crash between the renames leaves no live dir but a
        complete ``__trash-*`` copy; :meth:`_recover` (run at the start of
        every compact and ``_seen_table`` read) renames it back, so the
        table is never lost and the sweep below can only run when a live
        base exists. On object stores without atomic rename, compact into
        an Iceberg/Delta table instead — this class models that dedup
        table locally. A crash in the rename window restores the old table
        with its mark, so the next compact redoes the rewrite."""
        import shutil
        import uuid

        self._recover()
        base = self.path.rstrip("/")
        if not os.path.isdir(base):
            return  # no rounds recorded yet
        seen = (
            self._seen_table()
            if os.path.exists(os.path.join(base, _UNCOMPACTED))
            else None
        )
        if seen is not None:
            tmp = f"{base}__compact-{uuid.uuid4().hex[:8]}"
            trash = f"{base}__trash-{uuid.uuid4().hex[:8]}"
            seen.select("url").distinct().write.mode("overwrite").parquet(tmp)
            os.rename(base, trash)
            os.rename(tmp, base)
            shutil.rmtree(trash, ignore_errors=True)
        # sweep leftovers of compactions that crashed before their cleanup —
        # safe because _recover() guaranteed the live base exists
        parent, name = os.path.split(base)
        for entry in os.listdir(parent or "."):
            if entry.startswith(name + "__compact-") or entry.startswith(
                name + "__trash-"
            ):
                shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """Connected components over an undirected edge list: every node mapped
    to the MINIMUM node id reachable from it — the cluster-resolution step a
    dedup pipeline runs after LSH candidate generation (A~B, B~C must land
    A, B, C in ONE cluster even when A!~C directly).

    Min-label propagation with POINTER JUMPING: each round first takes
    ``l(v) <- min(l(v), min over neighbors u of l(u))`` (one join + one
    aggregation on compact (id, label) pairs), then follows the label one
    hop ``l(v) <- l(l(v))`` (labels are node ids, so the hop is defined and,
    by monotonicity, never increases). The jump halves the remaining
    component diameter every round, so a 10^10-node chain converges in
    ~log2(d) rounds instead of d — the difference between ~34 and 10^10
    shuffles. Each round's output is ``localCheckpoint``-ed: the self-join
    otherwise doubles the LOGICAL plan per round and the analyzer OOMs the
    driver long before the data does (on a cluster prefer
    ``setCheckpointDir`` + ``.checkpoint()`` for executor-loss tolerance).
    Checkpoints use DISK_ONLY blocks, and superseded rounds' blocks are
    released by Spark's ContextCleaner once their RDD is unreferenced
    (``DataFrame.unpersist`` does NOT free localCheckpoint blocks — they go
    through weak-ref GC), so peak on-heap state is O(1) rounds regardless of
    how many rounds run. ``sym`` is checkpointed once up front: the loop
    runs two actions per round and would otherwise re-execute the caller's
    full upstream lineage (e.g. LSH candidate generation) each time.

    Returns (node, component) — component = min reachable node id.
    """
    from pyspark import StorageLevel

    edges = edges.select(
        F.col(src).cast("bigint").alias("src"), F.col(dst).cast("bigint").alias("dst")
    )
    sym = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    for _ in range(max_rounds):
        neigh = (
            sym.join(
                labels.select(
                    F.col("node").alias("src"), F.col("label").alias("src_label")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("src_label").alias("nlabel"))
        )
        stepped = labels.join(neigh, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
        )
        jump = stepped.select(
            F.col("node").alias("j_id"), F.col("label").alias("j_label")
        )
        new_labels = (
            stepped.join(jump, stepped.label == jump.j_id, "left")
            .select("node", F.coalesce("j_label", "label").alias("label"))
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        # dropping the reference is what releases the superseded round's
        # checkpoint blocks (ContextCleaner) — see docstring
        labels = new_labels
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))
