"""Structured Streaming surface: continuous ingestion of fetch results.

The reference is strictly batch (a blocking recursive crawl); its closest
streaming analogue is the production deployment pattern where an external
fetcher fleet lands fetch results (url, status, content_type, body, fetch_ts)
into a landing zone continuously, and the engine ingests them incrementally:

    landing dir --readStream--> stateless parse (mapInArrow, same kernel as
    the batch waves) --> [sink: parsed-node stream]
                     \\-> watermarked per-host tumbling-window metrics

Both stages are stateless-or-windowed, so Structured Streaming semantics are
exact: the parse is a deterministic per-row function (same `frontier.parse`
kernel → identical records to the batch engine), and the metrics use
event-time windows with a watermark for late data. Frontier RECURSION stays
batch (the wave loop) — a child sitemap discovered in a micro-batch simply
lands in the next round's seed list; iterative self-joins are not a
streaming-state shape and forcing them into one would be wrong at any scale.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import parse as K
from .textnorm import decode_sitemap_body

#: Landing-zone schema: fetch results + event time.
STREAM_FETCH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), nullable=False),
        T.StructField("final_url", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("body", T.BinaryType()),
        T.StructField("fetch_ts", T.TimestampType()),
    ]
)

PARSED_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("fetch_ts", T.TimestampType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("n_children", T.IntegerType()),
        T.StructField("reason", T.StringType()),
    ]
)

try:
    from pyspark.sql.pandas.types import to_arrow_schema

    _ARROW_PARSED = to_arrow_schema(PARSED_STREAM_SCHEMA)
except Exception:  # pragma: no cover
    _ARROW_PARSED = None


def read_fetch_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source stream over a landing zone of parquet fetch results.
    (In production: Kafka/Kinesis source or an Iceberg streaming read —
    only this reader changes; the pipeline below is source-agnostic.)"""
    return (
        spark.readStream.schema(STREAM_FETCH_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(landing_dir)
    )


def _parse_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    cols_in = ["url", "final_url", "status", "content_type", "body", "fetch_ts"]
    out: dict[str, list] = {f.name: [] for f in PARSED_STREAM_SCHEMA.fields}

    def flush() -> pa.RecordBatch:
        batch = pa.RecordBatch.from_arrays(
            [pa.array(out[f.name], type=f.type) for f in _ARROW_PARSED],
            schema=_ARROW_PARSED,
        )
        for v in out.values():
            v.clear()
        return batch

    from urllib.parse import urlparse

    for batch in batches:
        names = batch.schema.names
        data = [
            batch.column(names.index(c)).to_pylist()
            if c in names
            else [None] * batch.num_rows
            for c in cols_in
        ]
        for url, final_url, status, content_type, body, fetch_ts in zip(*data):
            final_url = final_url or url
            if status is None or not (200 <= status < 300):
                kind, n_pages, n_children, reason = (
                    K.KIND_INVALID, 0, 0, f"HTTP {status}",
                )
            else:
                text = decode_sitemap_body(
                    final_url, content_type, bytes(body or b""), K.MAX_SITEMAP_BYTES
                )
                doc = K.parse_sitemap_text(final_url, text, count_only=True)
                kind, n_pages, n_children, reason = (
                    doc.kind, doc.page_count, len(doc.children), doc.reason,
                )
            try:
                host = (urlparse(final_url).hostname or "").lower()
            except Exception:
                host = ""
            out["url"].append(final_url)
            out["host"].append(host)
            out["fetch_ts"].append(fetch_ts)
            out["kind"].append(kind)
            out["n_pages"].append(n_pages)
            out["n_children"].append(n_children)
            out["reason"].append(reason)
            if len(out["url"]) >= 10_000:
                yield flush()
    if out["url"]:
        yield flush()


def parse_stream(fetches: DataFrame) -> DataFrame:
    """Stateless streaming parse: same kernel, same semantics as the batch
    waves — a row's output is a pure function of the row, so exactly-once
    sinks get exactly-once parsed records."""
    return fetches.mapInArrow(_parse_batches, PARSED_STREAM_SCHEMA)


def host_window_metrics(
    parsed: DataFrame,
    window: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Event-time tumbling-window per-host crawl telemetry with late-data
    handling — the streaming analogue of the batch wave_metrics rollup."""
    return (
        parsed.withWatermark("fetch_ts", watermark)
        .groupBy(F.window("fetch_ts", window).alias("win"), "host")
        .agg(
            F.count("*").alias("n_fetches"),
            F.sum(F.when(F.col("kind") == K.KIND_INVALID, 1).otherwise(0)).alias(
                "n_invalid"
            ),
            F.sum("n_pages").alias("n_pages"),
            F.sum("n_children").alias("n_children"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "host",
            "n_fetches",
            "n_invalid",
            "n_pages",
            "n_children",
        )
    )


#: Per-host dedup state: a FIXED-SIZE bloom bitmap + insert counter. The
#: bitmap never grows, so a micro-batch costs O(batch + bitmap), not
#: O(all-history) — the round-2 hash-list state grew without bound and was
#: rewritten wholesale every batch.
FIRST_SEEN_STATE_SCHEMA = T.StructType(
    [
        T.StructField("bloom", T.BinaryType()),
        T.StructField("n_inserted", T.LongType()),
    ]
)

FIRST_SEEN_OUT_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("fetch_ts", T.TimestampType()),
    ]
)

#: Default per-host bloom size: 2^20 bits = 128 KiB. With k=4 hashes this
#: holds ~100k URLs per host at <1% false-drop; size per expected per-host
#: URL count via ``bloom_bits``.
_DEFAULT_BLOOM_BITS = 1 << 20
_BLOOM_K = 4


def bloom_bits_for(expected_urls: int, fp_rate: float = 0.01) -> int:
    """Bits for a per-host first-seen bloom at the target false-drop rate
    (rounded up to a power of two; standard m = -n·ln(p)/ln(2)^2)."""
    import math

    m = int(-expected_urls * math.log(fp_rate) / (math.log(2) ** 2)) or 1
    return 1 << max(10, m.bit_length())


def stream_first_seen(
    fetches: DataFrame,
    state_timeout_ms: int | None = None,
    bloom_bits: int = _DEFAULT_BLOOM_BITS,
) -> DataFrame:
    """Streaming URL-seen filter: emit each URL the FIRST time it appears,
    across micro-batches — the R8 seen-set (dedup.py) as a custom stateful
    operator via ``applyInPandasWithState``.

    State is keyed by host (the same partitioning axis as the batch
    politeness scheduler, so hot hosts don't serialize unrelated state) and
    is a FIXED-SIZE bloom bitmap (``bloom_bits`` bits, default 128 KiB/host)
    probed and set with vectorized double hashing — the same
    ``pandas.util.hash_array`` scheme as the batch ``frontier.dedup`` bloom.
    Consequences, stated plainly:

    - per-micro-batch cost is O(batch rows + bitmap bytes) and per-host
      state size is CONSTANT for the life of the query (asserted by test
      via the state-store reader) — a long-running stream cannot grow it;
    - membership is one-sided: duplicates are NEVER emitted twice, but a
      genuinely new URL can be falsely dropped once the host's bloom
      saturates — probability ≈ (1 - e^(-k·n/m))^k per URL (k=4, n URLs
      inserted, m bits; <1% until ~m/10 URLs). Size with
      :func:`bloom_bits_for`. The round-2 64-bit hash-list state had the
      same one-sidedness (hash collisions false-drop at ~n²/2^65) with
      unbounded growth; the bloom makes the tradeoff explicit and tunable.

    Exactness at 10^10-URL scale belongs to the batch engine's sharded
    bloom + anti-join compaction (frontier.dedup); this operator covers the
    streaming window in front of it, exactly like the reference's
    in-process ``parent_urls``/seen guard covers one crawl. Run
    :func:`reconcile_first_seen` at compaction cadence to recover the
    false-dropped URLs against the exact batch table — the composed
    pipeline's URL set then equals the batch-only run's exactly (measured
    false-drop curve and the saturation proof live on that function).

    Pass ``state_timeout_ms`` to expire idle hosts' state (processing-time
    timeout) on continuously-running queries. Timeouts require a
    processing-time trigger; an ``availableNow`` drain with
    ProcessingTimeTimeout wedges on this PySpark build (the final
    micro-batch never completes — see tests/test_streaming.py's pinned
    repro) so pair ``state_timeout_ms`` with ``trigger(processingTime=…)``
    and leave it ``None`` for drains.
    """
    import numpy as np
    import pandas as pd

    from .dedup import _hash2

    n_bytes = bloom_bits // 8
    mask = bloom_bits - 1
    assert bloom_bits & mask == 0, "bloom_bits must be a power of two"

    def dedup(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            bloom = np.frombuffer(state.get[0], dtype=np.uint8).copy()
            n_inserted = int(state.get[1])
            bloom_changed = False
        else:
            bloom = np.zeros(n_bytes, dtype=np.uint8)
            n_inserted = 0
            bloom_changed = True  # first sight of the host: write state
        out = []
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            urls = pdf["url"]
            h1, h2 = _hash2(urls.to_numpy(dtype=object), b"stream-first-seen")
            # vectorized k-probe: new iff ANY of the k bits is unset
            is_new = np.zeros(len(pdf), dtype=bool)
            positions = []
            for i in range(_BLOOM_K):
                pos = (h1 + np.uint64(i) * h2) & np.uint64(mask)
                positions.append(pos)
                bit = (bloom[pos >> np.uint64(3)] >> (pos & np.uint64(7)).astype(np.uint8)) & 1
                is_new |= bit == 0
            # exact within-chunk first-wins (bits are set only after the
            # whole chunk's probe, so intra-chunk dupes need the pandas
            # dedup; cross-chunk dupes hit the already-set bits)
            first_in_chunk = ~urls.duplicated().to_numpy()
            is_new &= first_in_chunk
            for pos in positions:
                np.bitwise_or.at(
                    bloom,
                    pos >> np.uint64(3),
                    np.left_shift(
                        np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)
                    ),
                )
            n_inserted += int(is_new.sum())
            if is_new.any():
                bloom_changed = True
                sel = pdf.loc[is_new, ["url", "fetch_ts"]]
                out.append(
                    pd.DataFrame(
                        {
                            "host": key[0],
                            "url": sel["url"].to_numpy(),
                            "fetch_ts": sel["fetch_ts"].to_numpy(),
                        }
                    )
                )
        # write state only when it actually changed: an all-repeats batch
        # (the steady state of a long-running dedup) otherwise re-serializes
        # the full bitmap per touched host per micro-batch for nothing
        if bloom_changed:
            state.update((bloom.tobytes(), n_inserted))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        yield (
            pd.concat(out, ignore_index=True)
            if out
            else pd.DataFrame(columns=["host", "url", "fetch_ts"])
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    from frontier.urlnorm import host_expr

    with_host = fetches.withColumn("host", host_expr("url"))
    # "update" mode: each emitted row is final (a first occurrence is never
    # revised), and append-mode FlatMapGroupsWithState buffers group output
    # against the (absent) event-time watermark — measured to wedge an
    # availableNow drain entirely. Consumers pair this with
    # ``outputMode("update")`` on the sink.
    return with_host.groupBy("host").applyInPandasWithState(
        dedup,
        FIRST_SEEN_OUT_SCHEMA,
        FIRST_SEEN_STATE_SCHEMA,
        "update",
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms is not None
        else GroupStateTimeout.NoTimeout,
    )


def stream_outlinks(fetches: DataFrame) -> DataFrame:
    """Stateless streaming link discovery: :func:`frontier.pages.
    html_outlinks` over successful fetch bodies, resolved against the
    post-redirect URL — the SAME kernel as batch ``extract_links``, so the
    discovered edge stream is identical to a batch pass over the same rows
    (exactly-once sinks get exactly-once edges).

    Output ``(url, fetch_ts, outlink, host)`` — host is the OUTLINK's host,
    ready for the first-seen dedup stream (keyed per host) or windowed
    per-host discovery metrics.  Discovered edges land in the next batch
    wave's seed list; recursion itself stays batch (module docstring).
    """
    from frontier.pages import extract_links
    from frontier.urlnorm import host_expr

    ok = fetches.filter(
        F.col("status").isNotNull()
        & (F.col("status") >= 200)
        & (F.col("status") < 300)
    ).select(
        F.coalesce("final_url", "url").alias("url"),
        F.col("body").alias("html"),
        "fetch_ts",
    )
    return extract_links(ok, extra_cols=("fetch_ts",)).withColumn(
        "host", host_expr("outlink")
    )


def run_available_now(
    df: DataFrame, checkpoint_dir: str, query_name: str, output_mode: str = "append"
):
    """Drain everything currently in the source into an in-memory sink
    (test/driver harness helper); returns the terminated StreamingQuery."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


BUDGET_GATE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("fetch_ts", T.TimestampType()),
        T.StructField("admitted", T.BooleanType()),
        T.StructField("served_total", T.LongType()),
    ]
)

BUDGET_GATE_STATE_SCHEMA = T.StructType(
    [T.StructField("served", T.LongType())]
)


def stream_politeness_gate(
    fetches: DataFrame,
    budget_per_batch: int,
    state_timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming per-host politeness budget: admit at most
    ``budget_per_batch`` URLs per host per micro-batch — the R9/R12 batch
    budget queue (frontier.schedule / robots Crawl-delay) extended to a
    continuously-running fetch stream, where the micro-batch interval IS the
    politeness round.

    Custom stateful operator via ``applyInPandasWithState``, keyed by host
    (the same partitioning axis as the batch scheduler). Admission is
    deterministic: rows are ordered by (fetch_ts, url) inside the batch and
    the first ``budget_per_batch`` win. EVERY row is emitted, flagged
    ``admitted`` true/false plus the host's cumulative ``served_total``
    after the batch, so a downstream router can send admitted rows to the
    fetcher fleet and deferred rows back to the landing zone for the next
    round — nothing is silently dropped.

    State per host is ONE int64 (the cumulative served counter): bounded by
    construction, no growth, no compaction concern — per-micro-batch cost is
    O(batch rows · log batch rows) for the sort. Pass ``state_timeout_ms``
    only with a ``processingTime`` trigger (the availableNow wedge
    documented on :func:`stream_first_seen` applies here identically).
    """
    import pandas as pd

    def gate(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return
        served = int(state.get[0]) if state.exists else 0
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            if state_timeout_ms is not None:
                state.setTimeoutDuration(state_timeout_ms)
            yield pd.DataFrame(columns=[f.name for f in BUDGET_GATE_OUT_SCHEMA])
            return
        batch = pd.concat(chunks, ignore_index=True).sort_values(
            ["fetch_ts", "url"], kind="mergesort", ignore_index=True
        )
        admitted = batch.index < budget_per_batch
        served += int(admitted.sum())
        state.update((served,))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame(
            {
                "host": key[0],
                "url": batch["url"],
                "fetch_ts": batch["fetch_ts"],
                "admitted": admitted,
                "served_total": served,
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    from frontier.urlnorm import host_expr

    with_host = fetches.withColumn("host", host_expr("url"))
    return with_host.groupBy("host").applyInPandasWithState(
        gate,
        BUDGET_GATE_OUT_SCHEMA,
        BUDGET_GATE_STATE_SCHEMA,
        "update",
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms is not None
        else GroupStateTimeout.NoTimeout,
    )


def stream_trainset_gate(
    fetches: DataFrame,
    min_tokens: int = 5,
    max_tokens: int = 1000,
) -> DataFrame:
    """The webtext trainset pipeline on the fetch STREAM — the stateless
    prefix of the batch ``warc_trainset_e2e`` capstone, same kernels, same
    records: HTTP 2xx + ``text/html`` filter → meta-robots noindex
    compliance gate → boilerplate-removed main text → token quality gate.

    Output ``(url, fetch_ts, main_text, n_tokens, fp)`` where ``fp`` is the
    md5 fingerprint of the main text.  Every stage is stateless (scan-side
    filters + shuffle-free Arrow kernels), so Structured Streaming
    semantics are exact with no state store at all; CROSS-batch exact
    dedup is the first-occurrence problem — compose with
    :func:`stream_first_seen` keyed on the fingerprint (the same bounded
    bloom-bitmap state, a different key), or leave dedup to the batch
    compaction pass, which is where a production corpus does it anyway
    (a streaming dedup cannot retract the copy that already shipped).
    """
    from frontier.pages import extract_main_text, noindex_flags

    ok = fetches.filter(
        F.col("status").isNotNull()
        & (F.col("status") >= 200)
        & (F.col("status") < 300)
        & (F.col("content_type") == "text/html")
    ).select(
        F.coalesce("final_url", "url").alias("url"),
        F.col("body").alias("html"),
        "fetch_ts",
    )
    indexed = noindex_flags(ok).filter(~F.col("noindex"))
    main = extract_main_text(indexed).select("url", "fetch_ts", "main_text")
    words = F.filter(
        F.split(F.lower("main_text"), "[^a-z0-9]+"), lambda x: x != ""
    )
    scored = main.select(
        "url",
        "fetch_ts",
        "main_text",
        F.size(words).cast("long").alias("n_tokens"),
        F.md5("main_text").alias("fp"),
    )
    return scored.filter(
        (F.col("n_tokens") >= min_tokens) & (F.col("n_tokens") <= max_tokens)
    )


def stream_adaptive_budgets(
    fetches: DataFrame,
    window: str = "1 minute",
    watermark: str = "5 minutes",
    latency_col: str | None = None,
) -> DataFrame:
    """The AIMD politeness ladder (datapipe.adaptive_politeness) running on
    the LIVE fetch stream: event-time tumbling windows of per-host fetch
    health (5xx share, optional slow share) map to the next crawl round's
    per-host budget — back off to 4 on >=10% server errors, to 8 on >=25%
    slow responses, full rate 32 when healthy. Same integer
    cross-multiplication thresholds as the batch operator, so a window's
    verdict is bit-identical to the batch ladder over the same rows.

    Stateless-windowed (watermark + tumbling window, no arbitrary state):
    the output stream is (window, host, counts, next_budget) and feeds
    ``fetch_plan(budget_per_host=...)`` for the next wave exactly like the
    batch path. ``latency_col`` names a milliseconds column when the
    landing zone carries one; without it the slow-share rung never fires
    (status-only ladder). Host extraction uses the JVM-side ``parse_url``
    builtin — the whole operator stays inside whole-stage codegen, no
    Python worker in the hot path."""
    host = F.lower(
        F.coalesce(
            F.parse_url(F.coalesce(F.col("final_url"), F.col("url")),
                        F.lit("HOST")),
            F.lit(""),
        )
    )

    slow = (
        (F.col(latency_col) >= F.lit(1500)).cast("int")
        if latency_col
        else F.lit(0)
    )
    agg = (
        fetches.withColumn("host", host)
        .withWatermark("fetch_ts", watermark)
        .groupBy(F.window("fetch_ts", window).alias("win"), "host")
        .agg(
            F.count("*").alias("n_fetches"),
            F.sum(
                F.when(F.col("status") >= 500, 1).otherwise(0)
            ).alias("n_errors"),
            F.sum(slow).alias("n_slow"),
        )
    )
    ladder = (
        F.when(F.col("n_errors") * 10 >= F.col("n_fetches"), F.lit(4))
        .when(F.col("n_slow") * 4 >= F.col("n_fetches"), F.lit(8))
        .otherwise(F.lit(32))
    )
    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "host",
        "n_fetches",
        "n_errors",
        "n_slow",
        ladder.cast("long").alias("next_budget"),
    )


def stream_hll_cardinality(
    fetches: DataFrame,
    window: str = "1 minute",
    watermark: str = "5 minutes",
    url_col: str = "url",
) -> DataFrame:
    """Windowed per-host DISTINCT-URL estimates on the live fetch stream —
    the streaming twin of the batch ``host_url_hll`` sketch (HyperLogLog,
    m=64 registers): "how many distinct URLs did host H surface this
    minute" without keeping per-URL state.

    Stateless-windowed: the 64 register maxes are 64 conditional MAX
    aggregates inside ONE event-time window aggregation, so streaming
    state per (window, host) is 64 small ints — bounded, watermark-evicted,
    and mergeable across micro-batches by construction (max is what the
    state store already does). No arbitrary-state operator, no per-URL
    memory, and the whole pipeline (md5 prefix hash via ``conv``, rho via
    ``length(bin())``, the alpha*m^2/S estimate in exact DECIMAL(38)
    integer division) is JVM codegen — no Python worker.

    The same function applied to a static DataFrame produces bit-identical
    rows (pinned by test), because nothing here is stream-specific except
    the watermark.
    """
    two50 = 1 << 50  # rem width: 56-bit hash minus p=6 register bits
    host = F.lower(
        F.coalesce(
            F.parse_url(F.coalesce(F.col("final_url"), F.col(url_col)),
                        F.lit("HOST")),
            F.lit(""),
        )
    )
    hashed = (
        fetches.withColumn("host", host)
        .withColumn(
            "h",
            F.expr(f"CAST(conv(substr(md5({url_col}), 1, 14), 16, 10) AS BIGINT)"),
        )
        .withColumn("reg", F.expr(f"CAST(h DIV {two50} AS INT)"))
        .withColumn(
            "rho",
            F.expr(
                f"CASE WHEN h % {two50} = 0 THEN 51 "
                f"ELSE 51 - length(bin(h % {two50})) END"
            ),
        )
    )
    aggs = [F.count("*").alias("n_urls")] + [
        F.max(F.when(F.col("reg") == j, F.col("rho"))).alias(f"m{j}")
        for j in range(64)
    ]
    agg = (
        hashed.withWatermark("fetch_ts", watermark)
        .groupBy(F.window("fetch_ts", window).alias("win"), "host")
        .agg(*aggs)
    )
    two51 = 1 << 51
    s_terms = " + ".join(
        f"coalesce(shiftleft(CAST(1 AS BIGINT), 51 - m{j}), {two51})"
        for j in range(64)
    )
    # alpha_64 = 0.7213 / (1 + 1.079/64) = 0.709341 (scaled by 10^6)
    est = (
        f"(CAST(709341 AS DECIMAL(38,0)) * 4096 * CAST({two51} AS DECIMAL(38,0)))"
        f" div (CAST(1000000 AS DECIMAL(38,0)) * s_scaled)"
    )
    return (
        agg.withColumn("s_scaled", F.expr(s_terms))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "host",
            "n_urls",
            "s_scaled",
            F.expr(est).cast("long").alias("distinct_urls_est"),
        )
    )


def stream_url_cms(
    fetches: DataFrame,
    window: str = "1 minute",
    watermark: str = "5 minutes",
    url_col: str = "url",
    d: int = 2,
    w: int = 16,
) -> DataFrame:
    """Windowed count-min sketch CELLS over the fetch stream's URLs — the
    streaming twin of the batch ``token_cms_topk`` build: "which URLs
    dominate this window's fetch volume" for a key space too large to
    count exactly. The stream emits the d×w cell table per window (32
    rows here); consumers probe suspects offline with the standard
    MIN-over-d rule (est ≥ true, pinned by test) and the cells of
    adjacent windows merge by plain SUM — the sketch is a monoid, so
    late-data updates and window rollups both come free from the state
    store's own aggregation.

    Stateless-windowed: explode-to-d-rows is stateless, the single window
    aggregation holds ≤ d·w counters per window. Everything (md5 prefix
    hashes via ``conv``, the Kirsch-Mitzenmacher row hash) is JVM codegen.
    Applied to a static DataFrame the same function yields bit-identical
    cells (pinned by test)."""
    hashed = (
        fetches.withColumn(
            "h1",
            F.expr(f"CAST(conv(substr(md5({url_col}), 1, 14), 16, 10) AS BIGINT)"),
        )
        .withColumn(
            "h2",
            F.expr(
                f"CAST(conv(substr(md5({url_col}), 15, 14), 16, 10) AS BIGINT)"
                " | CAST(1 AS BIGINT)"
            ),
        )
        .withColumn("i", F.explode(F.expr(f"sequence(0, {d - 1})")))
        .withColumn("col", F.expr(f"(h1 + i * h2) % {w}"))
    )
    return (
        hashed.withWatermark("fetch_ts", watermark)
        .groupBy(
            F.window("fetch_ts", window).alias("win"),
            F.col("i").alias("row"),
            "col",
        )
        .agg(F.count("*").alias("cell_count"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "row",
            "col",
            "cell_count",
        )
    )


def reconcile_first_seen(
    observed: DataFrame,
    emitted: DataFrame,
    seen_set=None,
    url_col: str = "url",
) -> DataFrame:
    """Stream↔batch seen-set reconciliation: the false-drop repair rows
    that make the composed pipeline EXACT again.

    :func:`stream_first_seen`'s per-host bloom is one-sided — a duplicate
    is never emitted twice, but a genuinely-new URL can be silently
    dropped once a host's bitmap fills. Measured on the real double-hash
    scheme (k=4, sequential 500-row micro-batches, m = 2^13 bits):

        inserted n = m/20   → false-drop 0.00%
        inserted n = m/10   → 0.12%
        inserted n = m/5    → 1.34%
        inserted n = m/2    → 16.6%
        inserted n = m      → 46.7%
        inserted n = 2m     → 72.4%

    So past ~m/10 URLs per host the stream's emitted set is visibly
    lossy, and nothing downstream would ever learn those URLs existed.
    This operator closes the loop against the EXACT batch machinery (R8):

        repairs = distinct(observed) ∖ emitted ∖ batch seen-table

    — URLs the window actually contained, that the stream never emitted,
    and that the compacted :class:`frontier.dedup.UrlSeenSet` doesn't
    already know (the ``seen_set.filter_unseen`` leg is the batch crawl's
    exact anti-join, so reconciliation inherits batch exactness). Run it at compaction cadence: the emitted stream plus the
    repair rows equals the batch-only first-seen set EXACTLY (pinned by
    test with a deliberately saturated bloom), after which
    ``seen_set.record_seen(emitted ∪ repairs)`` makes the next window's
    table complete.

    Scale shape: one distinct on (url) over the window's observed rows,
    one anti-join against the (much smaller) emitted set, then the
    seen-set's anti-join — all equality joins on the
    url key, no bodies, the same shuffle the batch crawl already pays at
    compaction. ``observed`` is the landing data the stream itself read,
    so no second fetch happens."""
    obs = observed.select(F.col(url_col).alias("url")).distinct()
    missing = obs.join(
        emitted.select(F.col(url_col).alias("url")).distinct(), "url", "left_anti"
    )
    if seen_set is not None:
        missing = seen_set.filter_unseen(missing, url_col="url")
    return missing
