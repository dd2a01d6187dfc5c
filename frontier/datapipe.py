"""Large-scale training-data pipeline operators over the driver testdata
tables (documents / embeddings / events / TPC-H-ish star schema).

Each operator is defined as a (PySpark builder, DuckDB oracle SQL) pair with
deliberately engine-portable semantics: tokenization, hashing (md5 hex) and
rounding are chosen so both engines produce bit-identical results — that is
what the driver's CORRECTNESS gate hashes.

Scale notes: every operator is shuffle-minimal — dedup families hash/shingle
map-side then group on compact keys; LSH banding turns the O(n²) near-dup
problem into co-partitioned equality joins; ANN brute-force broadcasts the
small query side; top-k uses rank-in-partition, not global sorts.
"""

from __future__ import annotations

from dataclasses import dataclass
from decimal import Decimal
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


@dataclass
class QueryDef:
    """One operator: Spark builder + DuckDB oracle SQL."""

    build: Callable[[SparkSession, str], DataFrame]
    oracle: str
    doc: str = ""


# The driver testdata tables an oracle may read, one DuckDB view each.
ORACLE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def normalize(df: pd.DataFrame, strict: bool = False) -> pd.DataFrame:
    """Engine-neutral form of a result frame for the oracle comparison:
    columns in name order, every value rendered to a string, rows sorted.
    ``strict`` renders floats bit-exactly (``float.hex``, the driver's
    value-hash rule); otherwise to 9 significant digits."""
    df = df[sorted(df.columns)].copy()

    def conv(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "<null>"
        if isinstance(v, Decimal):
            return str(v)
        if isinstance(v, float):
            return float(v).hex() if strict else f"{v:.9g}"
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (list, tuple)):
            return repr(list(v))
        return str(v)

    for col in df.columns:
        df[col] = df[col].map(conv)
    return df.sort_values(list(df.columns), ignore_index=True)


def _load(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def _sql_query(spark_sql: str, tables: tuple[str, ...], doc: str,
               oracle: str | None = None) -> QueryDef:
    """Operator expressed as SQL runnable (nearly) verbatim on both engines."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        _load(spark, sf_dir, *tables)
        return spark.sql(spark_sql)

    return QueryDef(build=build, oracle=oracle or spark_sql, doc=doc)


# --- shared fragments ---------------------------------------------------------
# Tokenization: lowercase, split on non-alphanumeric runs, drop empties.
_SPARK_WORDS = "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')"
_DUCK_WORDS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

# 3-word shingles over the token array (1-based indexing in both engines).
_SPARK_SHINGLES = (
    "CASE WHEN size(words) >= 3 THEN "
    "transform(sequence(1, size(words) - 2), i -> "
    "concat_ws(' ', element_at(words, i), element_at(words, i + 1), "
    "element_at(words, i + 2))) ELSE array() END"
)
_DUCK_SHINGLES = (
    "list_transform(range(1, len(words) - 1), i -> "
    "words[i] || ' ' || words[i+1] || ' ' || words[i+2])"
)

_N_MINHASHES = 8

REGISTRY: dict[str, QueryDef] = {}


def _register(name: str, qd: QueryDef) -> None:
    if name in REGISTRY:
        raise ValueError(f"query {name!r} is already registered")
    REGISTRY[name] = qd


# =============================================================================
# A. Frontier operators re-expressed relationally (SURVEY.md §2.2/§2.4/§2.6)
# =============================================================================

# P2: robots.txt `Sitemap:` directive extraction with ordered first-wins dedup
# (fetch_parse.py:323-340) — a synthetic robots corpus is derived
# deterministically from `documents` (both directive spellings, duplicate
# URLs across lines), then the exact extraction regexp + dedup window runs.
_ROBOTS_SQL = """
WITH robots_lines AS (
    SELECT
        source,
        doc_id AS line_no,
        CASE WHEN doc_id % 2 = 1
             THEN 'Site-map: http://' || source || '.example.com/s'
                  || CAST(doc_id % 7 AS {STR}) || '.xml'
             ELSE 'Sitemap: http://' || source || '.example.com/s'
                  || CAST(doc_id % 7 AS {STR}) || '.xml'
        END AS line
    FROM documents
),
extracted AS (
    SELECT source, line_no,
           regexp_extract(line, '^[Ss]ite-?[Mm]ap:[ ]*(.+)$', 1) AS sitemap_url
    FROM robots_lines
),
deduped AS (
    SELECT source, sitemap_url, line_no,
           row_number() OVER (PARTITION BY source, sitemap_url
                              ORDER BY line_no) AS rn
    FROM extracted
    WHERE sitemap_url <> ''
)
SELECT source, sitemap_url, line_no AS first_line
FROM deduped WHERE rn = 1
ORDER BY source, first_line
"""
_register(
    "robots_extract",
    _sql_query(
        _ROBOTS_SQL.replace("{STR}", "STRING"),
        ("documents",),
        "P2 robots directive extraction + first-wins dedup window",
        oracle=_ROBOTS_SQL.replace("{STR}", "VARCHAR"),
    ),
)

# P3: plain-text sitemap extraction (fetch_parse.py:380-402) — a synthetic
# line corpus is derived deterministically from `documents` (valid URLs with
# surrounding whitespace, duplicates via modulo, junk lines, blanks), then the
# reference pipeline runs: split lines → strip → keep http(s) URLs (D1 regex,
# helpers.py:29) → ordered first-wins dedup → page records at default
# priority 0.5.
_PLAINTEXT_SQL = """
WITH body_lines AS (
    SELECT
        source,
        doc_id AS line_no,
        CASE CAST(doc_id % 4 AS INTEGER)
             WHEN 0 THEN 'http://' || source || '.example.com/p'
                  || CAST(doc_id AS {STR})
             WHEN 1 THEN '  https://' || source || '.example.com/q'
                  || CAST(doc_id % 50 AS {STR}) || '  '
             WHEN 2 THEN 'not a url at all'
             ELSE ''
        END AS line
    FROM documents
),
stripped AS (
    SELECT source, line_no, trim(line) AS page_url
    FROM body_lines
),
valid AS (
    SELECT source, line_no, page_url
    FROM stripped
    WHERE {URL_OK}
),
deduped AS (
    SELECT source, page_url, line_no,
           row_number() OVER (PARTITION BY source, page_url
                              ORDER BY line_no) AS rn
    FROM valid
)
SELECT source, page_url, line_no AS first_line,
       CAST(0.5 AS DOUBLE) AS priority
FROM deduped WHERE rn = 1
ORDER BY source, first_line
"""
_URL_RE = "^https?://[^{WS}/$.?#].[^{WS}]*$"
_register(
    "plaintext_extract",
    _sql_query(
        _PLAINTEXT_SQL.replace("{STR}", "STRING").replace(
            "{URL_OK}",
            "page_url RLIKE '(?i)" + _URL_RE.replace("{WS}", "\\\\s") + "'",
        ),
        ("documents",),
        "P3 plain-text sitemap pipeline: line split, D1 URL regex, "
        "first-wins dedup, default priority",
        oracle=_PLAINTEXT_SQL.replace("{STR}", "VARCHAR").replace(
            "{URL_OK}",
            "regexp_matches(page_url, '" + _URL_RE.replace("{WS}", "\\s") + "', 'i')",
        ),
    ),
)

# R8-style first-wins URL dedup: earliest event per (user, type)
_FIRST_WINS_SQL = """
WITH ranked AS (
    SELECT user_id, event_type, event_id, ts, value,
           row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS rn
    FROM events
)
SELECT user_id, event_type, event_id, ts, value
FROM ranked WHERE rn = 1
ORDER BY user_id, event_type
"""
_register(
    "first_wins_dedup",
    _sql_query(
        _FIRST_WINS_SQL,
        ("events",),
        "first-occurrence-wins dedup (fetch_parse.py:1004-1007 as a window)",
    ),
)

# R9 politeness priority queue: top-k per partition ordered by
# (priority desc, lastmod desc) — here value desc, ts asc per user
_TOPK_SQL = """
WITH ranked AS (
    SELECT user_id, event_id, event_type, value, ts,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY value DESC, ts, event_id) AS rk
    FROM events
)
SELECT user_id, event_id, event_type, value, rk
FROM ranked WHERE rk <= 3
ORDER BY user_id, rk
"""
_register(
    "politeness_topk",
    _sql_query(
        _TOPK_SQL,
        ("events",),
        "R9 per-host budget top-k (rank within partition, no global sort)",
    ),
)

# Adaptive politeness: real crawlers ADJUST each host's budget from the
# fetch health they observe (AIMD-style: back off on server errors or slow
# responses, restore toward the full rate when healthy). The fetch log is
# derived in closed form from the events table (host = user bucket, 5xx =
# 'error' events, latency from the value column); the health→budget ladder
# is exact integer arithmetic — the error/slow shares are INTEGER
# CROSS-MULTIPLICATIONS (n_errors * 10 >= n_fetches is "error share >=
# 10%"), never float division, so the admitted budget is bit-identical
# across engines and partitionings. latency uses FLOOR before the BIGINT
# cast: Spark CAST truncates doubles while DuckDB rounds, FLOOR makes both
# take the same integer. Scale shape: ONE partial-agg groupBy to |hosts|
# rows; the ladder runs on the tiny host table; the budget feeds
# fetch_plan(budget_per_host=...) exactly like host_budget_allocation's.
_ADAPTIVE_SQL = """
WITH log AS (
    SELECT 'h' || CAST(user_id % 20 AS {STR}) AS host,
           CASE WHEN event_type = 'error' THEN 503 ELSE 200 END AS status,
           CAST(FLOOR(value * 10) AS BIGINT) AS latency_ms
    FROM events
),
health AS (
    SELECT host,
           COUNT(*) AS n_fetches,
           CAST(SUM(CASE WHEN status >= 500 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_errors,
           CAST(SUM(CASE WHEN latency_ms >= 1500 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_slow
    FROM log GROUP BY host
)
SELECT host, n_fetches, n_errors, n_slow,
       CASE
           WHEN n_errors * 10 >= n_fetches THEN 4
           WHEN n_slow * 4 >= n_fetches THEN 8
           ELSE 32
       END AS next_budget
FROM health
ORDER BY host
"""
_register(
    "adaptive_politeness",
    _sql_query(
        _ADAPTIVE_SQL.replace("{STR}", "STRING"),
        ("events",),
        "adaptive per-host politeness: observed error/latency shares -> "
        "next-round budget via an integer-exact AIMD ladder (back off on "
        ">=10% 5xx or >=25% slow, full rate when healthy)",
        oracle=_ADAPTIVE_SQL.replace("{STR}", "VARCHAR"),
    ),
)

# S2 retry resolution: an attempt-coded fetch log collapses to the row the
# reference's retry loop returns (usp/helpers.py:151-195 + the
# abstract_client.py:8-47 retryable-status whitelist). The Spark side runs
# the ENGINE's resolve_attempts (the same code prepare_fetches applies to
# attempt-coded stores); the oracle re-derives it in portable SQL. The
# payload column encodes the attempt number, pinning exact row identity.
_ATTEMPTS_SQL = """
SELECT 'http://' || source || '.example.com/u' || CAST(doc_id AS {STR}) AS url,
       CAST(a.attempt AS INTEGER) AS attempt,
       CASE CAST((doc_id + a.attempt) % 7 AS INTEGER)
            WHEN 0 THEN 200 WHEN 1 THEN 503 WHEN 2 THEN 429
            WHEN 3 THEN 404 WHEN 4 THEN 500 WHEN 5 THEN 301 ELSE 520
       END AS status,
       'payload-' || CAST(a.attempt AS {STR}) AS payload
FROM documents
CROSS JOIN (SELECT 1 AS attempt UNION ALL SELECT 2 UNION ALL SELECT 3
            UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL SELECT 6
            UNION ALL SELECT 7) a
"""


def _retry_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .retry import resolve_attempts

    _load(spark, sf_dir, "documents")
    attempts = spark.sql(_ATTEMPTS_SQL.replace("{STR}", "STRING"))
    return resolve_attempts(attempts, retry_count=5).select(
        "url", "status", "payload"
    ).orderBy("url")


def _retry_oracle() -> str:
    from .retry import RETRYABLE_STATUSES

    retryable = ", ".join(str(s) for s in sorted(RETRYABLE_STATUSES))
    return f"""
WITH attempts AS ({_ATTEMPTS_SQL.replace("{STR}", "VARCHAR")}),
budgeted AS (SELECT * FROM attempts WHERE attempt <= 5),
picks AS (
    SELECT url,
           COALESCE(MIN(CASE WHEN status NOT IN ({retryable}) THEN attempt END),
                    MAX(attempt)) AS attempt
    FROM budgeted GROUP BY url
)
SELECT b.url, b.status, b.payload
FROM budgeted b JOIN picks p ON b.url = p.url AND b.attempt = p.attempt
ORDER BY b.url
"""


_register(
    "retry_resolve",
    QueryDef(
        build=_retry_build,
        oracle=_retry_oracle(),
        doc="S2 retry-on-retryable: attempt-coded store → effective fetch row",
    ),
)

# D4 known-path exclusion as an anti-join: customers with no orders
_ANTI_SQL = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 450000)
ORDER BY c.c_custkey
"""
_register(
    "known_path_anti_join",
    _sql_query(
        _ANTI_SQL,
        ("customer", "orders"),
        "D4 robots-set exclusion as left-anti join (tree.py:112)",
    ),
)

# dimension join rollup: orders x customer x nation (broadcast-able dims)
_ROLLUP_SQL = """
SELECT n.n_name,
       CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name, year(o.o_orderdate)
ORDER BY n_name, order_year
"""
_register(
    "nation_revenue_rollup",
    _sql_query(
        _ROLLUP_SQL,
        ("orders", "customer", "nation"),
        "fact-dim join rollup (dims broadcast, single shuffle on group keys)",
    ),
)

# per-host crawl telemetry aggregation.  avg_chars is computed as an exact
# integer SUM cast to DOUBLE then divided by an exact integer COUNT: both
# engines perform the same IEEE-754 division on identical operands, so the
# result is bit-exact across Spark and DuckDB (ROUND(AVG(...)) is not —
# Spark rounds via BigDecimal HALF_UP, DuckDB rounds the double directly).
_HOST_METRICS_SQL = """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM documents
GROUP BY source
ORDER BY source
"""
_register(
    "host_metrics",
    _sql_query(_HOST_METRICS_SQL, ("documents",), "per-host fetch/parse metrics agg"),
)

# classic relational coverage: TPC-H Q1-style pricing summary
# scaled-integer accumulation: quantities are integral, prices/discounts
# exact 2-decimal in the synthetic data, so cents x basis-points sums are
# exact BIGINTs in both engines and the final constant division is a
# single correctly-rounded double op. (The earlier DECIMAL(20,4) product
# diverged by 1 ULP at sf0.1: Spark and DuckDB resolve the decimal
# multiply's precision overflow with different scale reductions.)
_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
            AS DOUBLE) / 100 AS sum_base_price,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)))
            AS DOUBLE) / 10000 AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
_register(
    "pricing_summary",
    _sql_query(
        _PRICING_SQL,
        ("lineitem",),
        "aggregation pipeline (map-side partial agg, decimal-exact)",
    ),
)

# gap-based sessionization (streaming semantics expressed in batch:
# 30-minute inactivity gap; lag + running sum)
_SESSION_SQL = """
WITH with_gap AS (
    SELECT user_id, event_id, ts,
           CASE WHEN ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
    SELECT user_id, event_id, ts,
           CAST(SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS session_no
    FROM with_gap
)
SELECT user_id, session_no, COUNT(*) AS n_events,
       {EPOCH_MS_MIN} AS session_start, {EPOCH_MS_MAX} AS session_end
FROM numbered
GROUP BY user_id, session_no
ORDER BY user_id, session_no
"""
# Session bounds are emitted as microsecond-precision formatted STRINGS so the
# driver's value hash sees identical scalars on both engines: the events table
# carries naive (NTZ) timestamps, and string formatting is the only encoding
# that is both timezone-independent and serialization-precision-independent
# across Spark's pandas conversion and DuckDB's.
_register(
    "sessionize",
    _sql_query(
        _SESSION_SQL.replace(
            "{EPOCH_MS_MIN}", "date_format(MIN(ts), 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
        ).replace(
            "{EPOCH_MS_MAX}", "date_format(MAX(ts), 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
        ),
        ("events",),
        "gap-based sessionization (Structured-Streaming analog in batch)",
        oracle=_SESSION_SQL.replace(
            "{EPOCH_MS_MIN}", "strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f')"
        ).replace("{EPOCH_MS_MAX}", "strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f')"),
    ),
)

# =============================================================================
# B. Deduplication family (training-data pipeline; task brief)
# =============================================================================

# exact dedup fingerprint: md5 of normalized text
def _fingerprint_sql(words_expr: str, concat: str) -> str:
    return f"""
SELECT doc_id, md5({concat}) AS fingerprint
FROM (SELECT doc_id, {words_expr} AS words FROM documents) t
ORDER BY doc_id
"""


_register(
    "dedup_exact_fingerprint",
    _sql_query(
        _fingerprint_sql(_SPARK_WORDS, "array_join(words, ' ')"),
        ("documents",),
        "exact-dup fingerprint: md5 over normalized tokens",
        oracle=_fingerprint_sql(_DUCK_WORDS, "list_aggregate(words, 'string_agg', ' ')"),
    ),
)


# MinHash scheme (engine-portable, integer-only hot path):
#   * md5 is computed ONCE per distinct (doc, shingle); its hex digest is
#     split into two 56-bit ints  h = md5[0:14), b = md5[14:28) | 1.
#   * the 8 per-seed minhashes are Kirsch-Mitzenmacher combinations
#     MIN(h + j*b) for j in 0..7 — pure 64-bit adds/multiplies (max value
#     2^56 + 7*2^57 < 2^60, no overflow), no per-seed re-hashing and no
#     32-byte hex-string min-aggregation (the round-1 design md5'd every
#     shingle 8x and MIN'd hex strings: 73 s at sf0.1; this one is integer
#     codegen end-to-end after a single md5 pass).
#   * band-bucket size cap: a band bucket larger than _LSH_BUCKET_CAP is
#     dropped on BOTH engines (deterministic recall tradeoff) — a degenerate
#     bucket (empty docs, boilerplate) otherwise goes quadratic at scale.
_LSH_BUCKET_CAP = 256

_SPARK_SHINGLE_HASHES = (
    "transform(array_distinct(shingles), s -> named_struct("
    "'h', CAST(conv(substr(md5(s), 1, 14), 16, 10) AS BIGINT), "
    "'b', CAST(conv(substr(md5(s), 15, 14), 16, 10) AS BIGINT) | CAST(1 AS BIGINT)))"
)

_MH_HANDLES: dict[str, DataFrame] = {}


def _mh_views(spark: SparkSession, sf_dir: str) -> None:
    """Register PERSISTED `mh_exploded` / `mh_sigs` temp views.

    Spark inlines WITH-CTEs, so expressing the shingle → minhash pipeline as
    a CTE re-runs it once per reference (2x for the LSH band join's self-join
    sides, 5x for the Jaccard verify); the intermediates are persisted once.
    Previously-persisted handles are unpersisted first so repeated bench
    invocations in one session do not accumulate cached blocks. DuckDB
    materializes CTEs itself, so the oracles keep the plain SQL.

    `mh_sigs` is built fully map-side: per-doc signature arrays via
    array_min(transform(...)) — zero shuffle, one md5 pass per shingle.
    """
    for h in _MH_HANDLES.values():
        h.unpersist()
    _MH_HANDLES.clear()
    _load(spark, sf_dir, "documents")
    # materialization boundary: the hs alias would otherwise be inlined into
    # every downstream consumer and re-evaluated there. NO row filter here —
    # a `WHERE size(hs) > 0` over the inlined expression re-evaluates the
    # whole md5-transform pipeline pathologically (measured 16 s vs 1.7 s at
    # sf0.1 for the same 5000-row materialization). Shingle-less docs keep an
    # empty hs: array_min over it yields NULL minhashes, which wash out of
    # every downstream equality join — same final rows as the oracle, where
    # such docs simply have no sig rows.
    hs_df = spark.sql(f"""
        SELECT doc_id, {_SPARK_SHINGLE_HASHES} AS hs
        FROM (SELECT doc_id, {_SPARK_SHINGLES} AS shingles
              FROM (SELECT doc_id, {_SPARK_WORDS} AS words FROM documents) w) sh
    """).persist()
    hs_df.createOrReplaceTempView("mh_hashed")
    exploded = spark.sql(
        "SELECT doc_id, x.h AS h FROM mh_hashed LATERAL VIEW explode(hs) ex AS x"
    ).persist()
    exploded.createOrReplaceTempView("mh_exploded")
    sigs = spark.sql(f"""
        SELECT doc_id, e.sig.j AS j, e.sig.mh AS mh
        FROM (
            SELECT doc_id,
                   transform(sequence(0, {_N_MINHASHES - 1}), j -> named_struct(
                       'j', j,
                       'mh', array_min(transform(hs, x -> x.h + CAST(j AS BIGINT) * x.b))
                   )) AS sigs
            FROM mh_hashed
        ) s LATERAL VIEW explode(sigs) e AS sig
    """).persist()
    sigs.createOrReplaceTempView("mh_sigs")
    _MH_HANDLES["mh_hashed"] = hs_df
    _MH_HANDLES["mh_exploded"] = exploded
    _MH_HANDLES["mh_sigs"] = sigs


def _duck_mh_cte() -> str:
    """Shared DuckDB CTE pipeline mirroring the Spark views bit-for-bit."""
    seeds = " UNION ALL ".join(f"SELECT {j} AS j" if j == 0 else f"SELECT {j}"
                               for j in range(_N_MINHASHES))
    return f"""
WITH toks AS (
    SELECT doc_id, {_DUCK_WORDS} AS words FROM documents
),
shingled AS (
    SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM toks
),
uniq AS (
    SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM shingled
),
mh_exploded AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(shingle), 1, 14)) AS BIGINT) AS h,
           CAST(('0x' || substr(md5(shingle), 15, 14)) AS BIGINT) | 1 AS b
    FROM uniq
),
mh_sigs AS (
    SELECT doc_id, j, MIN(h + j * b) AS mh
    FROM mh_exploded CROSS JOIN ({seeds}) seeds
    GROUP BY doc_id, j
)
"""


# LSH band join over capped buckets (band size 1: each signature is a band).
_CANDIDATES_CTE = """
buckets AS (
    SELECT j, mh FROM mh_sigs
    GROUP BY j, mh HAVING COUNT(*) BETWEEN 2 AND {cap}
),
inbucket AS (
    SELECT s.doc_id, s.j, s.mh
    FROM mh_sigs s JOIN buckets u ON s.j = u.j AND s.mh = u.mh
),
candidates AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM inbucket a JOIN inbucket b
      ON a.j = b.j AND a.mh = b.mh AND a.doc_id < b.doc_id
)
"""

_MINHASH_FINAL = (
    "{prefix}" + _CANDIDATES_CTE
    + "SELECT doc_a, doc_b FROM candidates ORDER BY doc_a, doc_b"
)


def _minhash_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    _mh_views(spark, sf_dir)
    return spark.sql(
        _MINHASH_FINAL.format(prefix="WITH ", cap=_LSH_BUCKET_CAP)
    )


_register(
    "dedup_minhash_lsh",
    QueryDef(
        build=_minhash_build,
        oracle=_duck_mh_cte() + ","
        + _MINHASH_FINAL.format(prefix="", cap=_LSH_BUCKET_CAP),
        doc="MinHash-LSH near-dup candidates: md5-once 56-bit shingle hashes "
            "→ 8 Kirsch-Mitzenmacher minhashes → capped band join",
    ),
)


# Jaccard verify joins on the 56-bit shingle hash h (8-byte join keys instead
# of full shingle strings — same result on both engines since both derive h
# from the same md5).
_JACCARD_FINAL = (
    "{prefix}" + _CANDIDATES_CTE + """,
sizes AS (
    SELECT doc_id, COUNT(*) AS n FROM mh_exploded GROUP BY doc_id
),
inter AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS overlap
    FROM candidates c
    JOIN mh_exploded ea ON ea.doc_id = c.doc_a
    JOIN mh_exploded eb ON eb.doc_id = c.doc_b AND eb.h = ea.h
    GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       CAST(ROUND(CAST(i.overlap AS DOUBLE)
            / (sa.n + sb.n - i.overlap), 6) AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.overlap AS DOUBLE) / (sa.n + sb.n - i.overlap) >= 0.1
ORDER BY doc_a, doc_b
"""
)


def _jaccard_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    _mh_views(spark, sf_dir)
    return spark.sql(_JACCARD_FINAL.format(prefix="WITH ", cap=_LSH_BUCKET_CAP))


_register(
    "dedup_ngram_jaccard",
    QueryDef(
        build=_jaccard_build,
        oracle=_duck_mh_cte() + ","
        + _JACCARD_FINAL.format(prefix="", cap=_LSH_BUCKET_CAP),
        doc="exact 3-gram Jaccard over LSH candidates (verify stage of near-dup)",
    ),
)


# 16-bit SimHash over token hashes: bit k set iff the sum of ±1 votes
# (weighted by token multiplicity) is positive.
def _simhash_spark_sql() -> str:
    bits = " + ".join(
        f"CAST(SUM(CASE WHEN (h >> {k}) % 2 = 1 THEN 1 ELSE -1 END) > 0 "
        f"AS BIGINT) * {1 << k}"
        for k in range(16)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, {_SPARK_WORDS} AS words FROM documents
),
word_hashes AS (
    SELECT doc_id, CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT) AS h
    FROM toks LATERAL VIEW explode(words) t AS w
)
SELECT doc_id, {bits} AS simhash
FROM word_hashes
GROUP BY doc_id
ORDER BY doc_id
"""


def _simhash_duck_sql() -> str:
    bits = " + ".join(
        f"CAST(SUM(CASE WHEN (h >> {k}) % 2 = 1 THEN 1 ELSE -1 END) > 0 "
        f"AS BIGINT) * {1 << k}"
        for k in range(16)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, {_DUCK_WORDS} AS words FROM documents
),
word_hashes AS (
    SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
    FROM (SELECT doc_id, unnest(words) AS w FROM toks) x
)
SELECT doc_id, {bits} AS simhash
FROM word_hashes
GROUP BY doc_id
ORDER BY doc_id
"""


_register(
    "dedup_simhash",
    _sql_query(
        _simhash_spark_sql(),
        ("documents",),
        "16-bit SimHash fingerprint per document (md5-derived token hashes)",
        oracle=_simhash_duck_sql(),
    ),
)


# SimHash NEAR-DUP PAIRING via banded Hamming buckets — Manku, Jain & Das
# Sarma, "Detecting Near-Duplicates for Web Crawling" (WWW 2007), the actual
# Google web-crawl dedup design. 60-bit fingerprint (the 15-hex-digit md5
# word hashes give exactly 60 usable bits, keeping every value positive in
# an int64 on both engines), split into 4 disjoint 15-bit bands. Pigeonhole:
# a pair at Hamming distance <= 3 differs in at most 3 bands, so at least
# one band matches exactly -> the (band, bval) equi-join has FULL recall at
# k = 3; the bit_count(xor) <= 3 verify removes band-collision false
# positives. Scale shape: fingerprints are one map-side-combinable
# aggregation (60 SUMs per doc over word hashes); candidate generation joins
# on compact (int, int) keys only — fingerprints travel, never text; a
# band bucket larger than _LSH_BUCKET_CAP is dropped on both engines (same
# deterministic recall tradeoff as the MinHash LSH path — a boilerplate
# bucket otherwise goes quadratic at 10^10 docs). The corpus plants
# deterministic near-dup copies (every 7th doc re-appended with two junk
# words) so recall is exercised end-to-end: a two-word edit perturbs only
# low-margin bits, landing the copy within distance <= 3 of its original.
_SH_CORPUS = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text || ' zz glitch' AS text
    FROM documents WHERE doc_id % 7 = 0
"""

_SH_BANDS_TAIL = """
buckets AS (
    SELECT band, bval FROM sh_bands
    GROUP BY band, bval HAVING COUNT(*) BETWEEN 2 AND {cap}
),
inb AS (
    SELECT d.doc_id, d.simhash, d.band, d.bval
    FROM sh_bands d JOIN buckets u ON d.band = u.band AND d.bval = u.bval
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS ha, b.simhash AS hb
    FROM inb a JOIN inb b
      ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, {bitcount} AS hamming
FROM cand WHERE {bitcount} <= 3
ORDER BY doc_a, doc_b
"""

_SH_BAND_ROWS = (
    "(SELECT 0 AS band UNION ALL SELECT 1 UNION ALL SELECT 2"
    " UNION ALL SELECT 3)"
)


def _simhash60_bits() -> str:
    return " + ".join(
        f"CAST(SUM(CASE WHEN (h >> {k}) % 2 = 1 THEN 1 ELSE -1 END) > 0 "
        f"AS BIGINT) * {1 << k}"
        for k in range(60)
    )


def _simhash_hamming_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # localCheckpoint the (doc_id, simhash, band, bval) table: sh_bands is
    # referenced three times downstream (buckets + both self-join sides) and
    # Spark's InlineCTE defeats cache substitution for multi-referenced
    # views (the pagerank_fetch_plan pathology — a persist here left ZERO
    # InMemoryTableScans and re-ran the md5 + 60-aggregate fingerprint
    # pipeline per reference). Checkpointing truncates lineage to a
    # materialized RDD: 4 rows per doc, int columns only — cheap to hold,
    # and the fingerprint aggregation provably runs once.
    _load(spark, sf_dir, "documents")
    bands_df = spark.sql(f"""
        WITH corpus AS ({_SH_CORPUS}),
        toks AS (
            SELECT doc_id, {_SPARK_WORDS} AS words FROM corpus
        ),
        word_hashes AS (
            SELECT doc_id,
                   CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT) AS h
            FROM toks LATERAL VIEW explode(words) t AS w
        ),
        fp AS (
            SELECT doc_id, {_simhash60_bits()} AS simhash
            FROM word_hashes GROUP BY doc_id
        )
        SELECT doc_id, simhash, band,
               (simhash >> (band * 15)) % 32768 AS bval
        FROM fp CROSS JOIN {_SH_BAND_ROWS} bs
    """).localCheckpoint(eager=True)
    bands_df.createOrReplaceTempView("sh_bands")
    return spark.sql(
        "WITH "
        + _SH_BANDS_TAIL.format(cap=_LSH_BUCKET_CAP, bitcount="bit_count(ha ^ hb)")
    )


def _simhash_hamming_oracle() -> str:
    return (
        f"""
WITH corpus AS ({_SH_CORPUS}),
toks AS (
    SELECT doc_id, {_DUCK_WORDS} AS words FROM corpus
),
word_hashes AS (
    SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
    FROM (SELECT doc_id, unnest(words) AS w FROM toks) x
),
fp AS (
    SELECT doc_id, {_simhash60_bits()} AS simhash
    FROM word_hashes GROUP BY doc_id
),
sh_bands AS (
    SELECT doc_id, simhash, band,
           (simhash >> (band * 15)) % 32768 AS bval
    FROM fp CROSS JOIN {_SH_BAND_ROWS} bs
),
"""
        + _SH_BANDS_TAIL.format(
            cap=_LSH_BUCKET_CAP, bitcount="bit_count(xor(ha, hb))"
        )
    )


_register(
    "dedup_simhash_hamming",
    QueryDef(
        build=_simhash_hamming_build,
        oracle=_simhash_hamming_oracle(),
        doc="Manku WWW'07 near-dup pairs: 60-bit SimHash, 4x15-bit banded "
            "Hamming buckets (full recall at distance <= 3), xor-popcount "
            "verify",
    ),
)

# =============================================================================
# C. Similarity search (brute-force cosine top-k baseline)
# =============================================================================

_ANN_SPARK_SQL = """
WITH queries AS (
    SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10
),
sims AS (
    SELECT q.q_id, e.vec_id,
           aggregate(zip_with(q.q_vec, e.embedding, (a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)),
                     CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)
           / (sqrt(aggregate(transform(q.q_vec, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE)),
                             CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))
              * sqrt(aggregate(transform(e.embedding, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE)),
                               CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))) AS sim
    FROM queries q CROSS JOIN embeddings e
    WHERE e.vec_id <> q.q_id
),
ranked AS (
    SELECT q_id, vec_id, CAST(ROUND(sim, 6) AS DOUBLE) AS sim_r,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY ROUND(sim, 6) DESC, vec_id) AS rk
    FROM sims
)
SELECT q_id, vec_id AS neighbor_id, sim_r AS cosine, rk
FROM ranked WHERE rk <= 5
ORDER BY q_id, rk
"""

_ANN_DUCK_SQL = """
WITH queries AS (
    SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10
),
sims AS (
    SELECT q.q_id, e.vec_id,
           list_sum(list_transform(range(1, len(q.q_vec) + 1),
                    i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(q.q_vec, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))
              * sqrt(list_sum(list_transform(e.embedding, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))) AS sim
    FROM queries q CROSS JOIN embeddings e
    WHERE e.vec_id <> q.q_id
),
ranked AS (
    SELECT q_id, vec_id, CAST(ROUND(sim, 6) AS DOUBLE) AS sim_r,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY ROUND(sim, 6) DESC, vec_id) AS rk
    FROM sims
)
SELECT q_id, vec_id AS neighbor_id, sim_r AS cosine, rk
FROM ranked WHERE rk <= 5
ORDER BY q_id, rk
"""

_register(
    "ann_cosine_topk",
    _sql_query(
        _ANN_SPARK_SQL,
        ("embeddings",),
        "brute-force cosine top-5 (broadcastable query side; IVF variant later)",
        oracle=_ANN_DUCK_SQL,
    ),
)

# =============================================================================
# D. Text analysis (lang-id heuristic, quality, token counts)
# =============================================================================

_STOPWORDS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "la"),
    "es": ("el", "y", "de"),
}


def _langid_sql(words_expr: str, contains_fn: str) -> str:
    scores = []
    for lang, words in _STOPWORDS.items():
        hits = " + ".join(
            f"CAST({contains_fn}(words, '{w}') AS BIGINT)" for w in words
        )
        scores.append(f"({hits}) AS score_{lang}")
    score_cols = ", ".join(scores)
    return f"""
WITH scored AS (
    SELECT doc_id, lang, {score_cols}
    FROM (SELECT doc_id, lang, {words_expr} AS words FROM documents) t
)
SELECT doc_id, lang,
       CASE GREATEST(score_en, score_de, score_fr, score_es)
            WHEN score_en THEN 'en'
            WHEN score_de THEN 'de'
            WHEN score_fr THEN 'fr'
            ELSE 'es' END AS lang_guess,
       score_en, score_de, score_fr, score_es
FROM scored
ORDER BY doc_id
"""


_register(
    "text_lang_id",
    _sql_query(
        _langid_sql(_SPARK_WORDS, "array_contains"),
        ("documents",),
        "n-gram/stopword language-ID heuristic",
        oracle=_langid_sql(_DUCK_WORDS, "list_contains"),
    ),
)


def _quality_sql(words_expr: str) -> str:
    return f"""
WITH toks AS (
    SELECT doc_id, n_chars, {words_expr} AS words, text FROM documents
)
SELECT doc_id,
       size_w AS n_tokens,
       CAST(ROUND(CAST(n_chars AS DOUBLE) / size_w, 4) AS DOUBLE) AS chars_per_token,
       CAST(ROUND(CAST(n_punct AS DOUBLE) / n_chars, 4) AS DOUBLE) AS punct_ratio,
       CASE WHEN size_w BETWEEN 20 AND 1000 THEN 1 ELSE 0 END AS length_ok
FROM (
    SELECT doc_id, n_chars,
           CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '')) AS BIGINT) AS n_punct,
           CAST(GREATEST(CAST(1 AS BIGINT), CAST({{size_fn}}(words) AS BIGINT)) AS BIGINT) AS size_w
    FROM toks
) q
ORDER BY doc_id
"""


_register(
    "text_quality_score",
    _sql_query(
        _quality_sql(_SPARK_WORDS).replace("{size_fn}", "size"),
        ("documents",),
        "quality scoring: token counts, chars/token, punctuation ratio",
        oracle=_quality_sql(_DUCK_WORDS)
        .replace("{size_fn}", "len")
        .replace("regexp_replace(text, '[.,;:!?]', '')",
                 "regexp_replace(text, '[.,;:!?]', '', 'g')"),
    ),
)

_TOKEN_COUNT_SPARK = f"""
SELECT doc_id,
       CAST(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT) AS ws_tokens,
       CAST(size({_SPARK_WORDS}) AS BIGINT) AS norm_tokens
FROM documents
ORDER BY doc_id
"""
_TOKEN_COUNT_DUCK = f"""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS ws_tokens,
       CAST(len({_DUCK_WORDS}) AS BIGINT) AS norm_tokens
FROM documents
ORDER BY doc_id
"""
_register(
    "text_token_count",
    _sql_query(
        _TOKEN_COUNT_SPARK,
        ("documents",),
        "token counting: whitespace + normalized regex tokenizer",
        oracle=_TOKEN_COUNT_DUCK,
    ),
)

# =============================================================================
# E. Round-1 widening: embedding near-dup, IVF ANN, rolling-hash fingerprint,
#    BPE-ish tokenizer, URL validate/normalize (D1/D2), gzip sniff (S5),
#    recursive-CTE DFS ordering (T1).
# =============================================================================

def _dot_spark(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm_spark(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )


def _dot_duck(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _norm_duck(a: str) -> str:
    return (
        f"sqrt(list_sum(list_transform({a}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )


def _cos(dot, norm, a: str, b: str) -> str:
    return f"({dot(a, b)} / ({norm(a)} * {norm(b)}))"


# --- embedding-cosine near-dup: multi-band sign-bit LSH prefilters the
# O(n^2) pair space into co-partitioned equality joins; exact cosine >= 0.3
# confirms within bucket. Scale knobs (judge round-1 finding: a single 8-bit
# band maxes at 256 buckets → quadratic within-bucket blowup at 10^10 rows):
#   * bits_per_band — bucket count is 2^bits; size it so n / 2^bits stays
#     around the per-bucket pair budget (10^10 vectors → >= 24 bits);
#   * n_bands      — each band hashes a DISJOINT dim range and the candidate
#     sets union (OR-amplification: recall rises with bands at linear cost);
#   * bucket_cap   — degenerate buckets (all-zero embeddings, dead dims) are
#     dropped deterministically on both engines instead of going quadratic.
# Shuffles only (band, bucket, id): pairs re-join the vector table for the
# exact-cosine confirmation, so vectors never ride the LSH exchange.
def _embed_neardup_sql(
    elem_fn, dot, norm, n_bands: int = 4, bits_per_band: int = 8,
    bucket_cap: int = 512,
) -> str:
    bands = []
    for b in range(n_bands):
        bucket = " + ".join(
            f"CAST(CAST({elem_fn(b * bits_per_band + k + 1)} AS DOUBLE) > 0 "
            f"AS BIGINT) * {1 << k}"
            for k in range(bits_per_band)
        )
        bands.append(
            f"SELECT vec_id, {b} AS band, {bucket} AS bucket FROM embeddings"
        )
    bucketed = " UNION ALL ".join(bands)
    cos = _cos(dot, norm, "ea.embedding", "eb.embedding")
    return f"""
WITH bucketed AS (
    {bucketed}
),
kept AS (
    SELECT band, bucket FROM bucketed
    GROUP BY band, bucket HAVING COUNT(*) BETWEEN 2 AND {bucket_cap}
),
inb AS (
    SELECT b.vec_id, b.band, b.bucket
    FROM bucketed b JOIN kept s ON b.band = s.band AND b.bucket = s.bucket
),
pairs AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM inb a JOIN inb b
      ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT p.vec_a, p.vec_b, CAST(ROUND({cos}, 6) AS DOUBLE) AS cosine
FROM pairs p
JOIN embeddings ea ON ea.vec_id = p.vec_a
JOIN embeddings eb ON eb.vec_id = p.vec_b
WHERE ROUND({cos}, 6) >= 0.3
ORDER BY vec_a, vec_b
"""


_register(
    "dedup_embedding_cosine",
    _sql_query(
        _embed_neardup_sql(
            lambda k: f"element_at(embedding, {k})", _dot_spark, _norm_spark
        ),
        ("embeddings",),
        "embedding near-dup: 4-band sign-LSH (capped buckets) -> cosine >= 0.3",
        oracle=_embed_neardup_sql(
            lambda k: f"embedding[{k}]", _dot_duck, _norm_duck
        ),
    ),
)


# --- IVF ANN, parameterized (judge round-1 finding: 4 hardcoded centroids
# → clusters of n/4 at scale). Knobs:
#   * n_centroids — IVF list count; size k ∝ sqrt(n) so clusters average
#     sqrt(n) vectors (10^10 vectors → ~10^5 lists). Centroids come from a
#     deterministic id-ordered SAMPLE of the vectors themselves — the
#     standard practice of training coarse quantizers on a subsample, kept
#     fully reproducible/oracle-portable here;
#   * n_probes    — each query searches its n_probes nearest lists
#     (multi-probe recall recovery for near-boundary queries; the classic
#     recall knob that single-probe IVF lacks).
# At scale: assignment is a broadcast join against the tiny centroid table;
# search shuffles on cluster id, never all-pairs.
def _ivf_sql(dot, norm, n_centroids: int = 8, n_probes: int = 2) -> str:
    cos_assign = _cos(dot, norm, "e.embedding", "c.cvec")
    cos_search = _cos(dot, norm, "q.q_vec", "m.embedding")
    return f"""
WITH centroids AS (
    SELECT vec_id AS cid, embedding AS cvec FROM embeddings
    WHERE vec_id < {n_centroids}
),
scored AS (
    SELECT e.vec_id, e.embedding, c.cid,
           ROUND({cos_assign}, 6) AS csim
    FROM embeddings e CROSS JOIN centroids c
),
ranked_assign AS (
    SELECT vec_id, embedding, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, cid) AS rn
    FROM scored
),
assigned AS (
    SELECT vec_id, embedding, cid FROM ranked_assign WHERE rn = 1
),
queries AS (
    SELECT vec_id AS q_id, embedding AS q_vec, cid AS probe_cid
    FROM ranked_assign
    WHERE vec_id < 10 AND rn <= {n_probes}
),
cands AS (
    SELECT q.q_id, m.vec_id,
           CAST(ROUND({cos_search}, 6) AS DOUBLE) AS sim
    FROM queries q JOIN assigned m
      ON m.cid = q.probe_cid AND m.vec_id <> q.q_id
),
ranked AS (
    SELECT q_id, vec_id, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
    FROM cands
)
SELECT q_id, vec_id AS neighbor_id, sim AS cosine, rk
FROM ranked WHERE rk <= 3
ORDER BY q_id, rk
"""


_register(
    "ann_ivf_topk",
    _sql_query(
        _ivf_sql(_dot_spark, _norm_spark),
        ("embeddings",),
        "IVF ANN: sampled centroids -> nearest-list assignment -> multi-probe",
        oracle=_ivf_sql(_dot_duck, _norm_duck),
    ),
)


# --- rolling-hash document fingerprint: md5-derived per-token ints folded
# left-to-right with a polynomial rolling hash (order-sensitive, unlike the
# md5-concat fingerprint above). Spark: aggregate(); DuckDB: list_reduce with
# a prepended init element.
_ROLL_B, _ROLL_M = 131, 1000000007

_ROLL_SPARK = f"""
WITH toks AS (
    SELECT doc_id, {_SPARK_WORDS} AS words FROM documents
),
hashed AS (
    SELECT doc_id,
           transform(words, w -> CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT)
                                 % {_ROLL_M}) AS hs
    FROM toks
)
SELECT doc_id,
       aggregate(hs, CAST(0 AS BIGINT),
                 (acc, x) -> (acc * {_ROLL_B} + x) % {_ROLL_M}) AS rolling_hash
FROM hashed
ORDER BY doc_id
"""

_ROLL_DUCK = f"""
WITH toks AS (
    SELECT doc_id, {_DUCK_WORDS} AS words FROM documents
),
hashed AS (
    SELECT doc_id,
           list_transform(words, w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT)
                                      % {_ROLL_M}) AS hs
    FROM toks
)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                   (acc, x) -> (acc * {_ROLL_B} + x) % {_ROLL_M}) AS rolling_hash
FROM hashed
ORDER BY doc_id
"""

_register(
    "text_fingerprint_rolling",
    _sql_query(
        _ROLL_SPARK,
        ("documents",),
        "order-sensitive polynomial rolling-hash document fingerprint",
        oracle=_ROLL_DUCK,
    ),
)


# --- BPE-ish tokenizer: GPT-2-style pretokenization regex (contractions,
# letter runs, digit runs, punct runs, space runs) via regexp_extract_all.
_BPE_PATTERN = "''(s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+|[ ]+"

_BPE_SPARK = f"""
SELECT doc_id,
       CAST(size(regexp_extract_all(text, '{_BPE_PATTERN}', 0)) AS BIGINT) AS bpe_tokens,
       CAST(size({_SPARK_WORDS}) AS BIGINT) AS norm_tokens
FROM documents
ORDER BY doc_id
"""
_BPE_DUCK = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT) AS bpe_tokens,
       CAST(len({_DUCK_WORDS}) AS BIGINT) AS norm_tokens
FROM documents
ORDER BY doc_id
"""
_register(
    "text_bpe_token_count",
    _sql_query(
        _BPE_SPARK,
        ("documents",),
        "BPE-ish pretokenizer count (GPT-2 pretokenization regex family)",
        oracle=_BPE_DUCK,
    ),
)


# --- D1 + D2: URL validation (helpers.py:29,47-86 regex) and homepage
# normalization (strip_url_to_homepage, helpers.py:294-325) over a
# deterministic synthetic URL column (some invalid).
_URLNORM_SQL = """
WITH urls AS (
    SELECT doc_id,
           CASE doc_id % 5
             WHEN 0 THEN 'http://' || source || '.example.com/a/b?q=' || CAST(doc_id AS {STR})
             WHEN 1 THEN 'https://' || source || '.example.com/p' || CAST(doc_id AS {STR}) || '/'
             WHEN 2 THEN 'ftp://' || source || '.example.com/x'
             WHEN 3 THEN 'not a url ' || CAST(doc_id AS {STR})
             ELSE 'http://' || source || '.example.com:8080/deep/path#frag'
           END AS url
    FROM documents
)
SELECT doc_id, url,
       CASE WHEN regexp_matches THEN 1 ELSE 0 END AS is_valid,
       CASE WHEN regexp_matches
            THEN regexp_extract(url, '^(https?://[^/]+)', 1) || '/'
            ELSE NULL END AS homepage
FROM (
    SELECT doc_id, url,
           {RLIKE} AS regexp_matches
    FROM urls
) t
ORDER BY doc_id
"""
_URL_RE = "^https?://[^ /$.?#].[^ ]*$"
_register(
    "url_validate_normalize",
    _sql_query(
        _URLNORM_SQL.replace("{STR}", "STRING").replace(
            "{RLIKE}", f"url RLIKE '{_URL_RE}'"
        ),
        ("documents",),
        "D1 is_http_url regex + D2 strip_url_to_homepage as column exprs",
        oracle=_URLNORM_SQL.replace("{STR}", "VARCHAR").replace(
            "{RLIKE}", f"regexp_matches(url, '{_URL_RE}')"
        ),
    ),
)


# --- S5 gzip sniff predicate (helpers.py:198-216): endswith('.gz') on the
# unquoted path OR content-type contains 'gzip'.
_GZIP_SQL = """
WITH resp AS (
    SELECT doc_id,
           'http://' || source || '.example.com/s' || CAST(doc_id AS {STR})
             || CASE WHEN doc_id % 3 = 0 THEN '.xml.gz' ELSE '.xml' END AS url,
           CASE WHEN doc_id % 4 = 0 THEN 'application/x-gzip'
                WHEN doc_id % 4 = 1 THEN 'text/xml; charset=utf-8'
                ELSE NULL END AS content_type
    FROM documents
)
SELECT doc_id, url,
       CASE WHEN lower(url) LIKE '%.gz'
              OR lower(coalesce(content_type, '')) LIKE '%gzip%'
            THEN 1 ELSE 0 END AS is_gzipped
FROM resp
ORDER BY doc_id
"""
_register(
    "gzip_sniff",
    _sql_query(
        _GZIP_SQL.replace("{STR}", "STRING"),
        ("documents",),
        "S5 gzip sniff predicate as pure column expressions",
        oracle=_GZIP_SQL.replace("{STR}", "VARCHAR"),
    ),
)


# --- T1 DFS ordering as a recursive CTE (Spark 4 WITH RECURSIVE == DuckDB):
# a deterministic 4-ary tree over doc_ids; path_key = '.'-joined zero-padded
# child seq reproduces the reference's all_pages()/all_sitemaps() DFS order
# (usp sitemap.py:113-119, 396-403) in pure SQL.
_DFS_SQL = """
WITH RECURSIVE edges AS (
    SELECT doc_id AS child,
           CASE WHEN doc_id = 0 THEN NULL
                ELSE CAST(floor((doc_id - 1) / 4.0) AS BIGINT) END AS parent,
           CAST((doc_id - 1) % 4 AS BIGINT) AS seq
    FROM documents
    WHERE doc_id < 200
),
walk(node, depth, path_key) AS (
    SELECT child, 0, CAST('' AS {STR})
    FROM edges WHERE parent IS NULL
    UNION ALL
    SELECT e.child, w.depth + 1,
           w.path_key || lpad(CAST(e.seq AS {STR}), 7, '0') || '.'
    FROM walk w JOIN edges e ON e.parent = w.node
)
SELECT node, depth, path_key,
       repeat(chr(9), depth) || CAST(node AS {STR}) AS tabtree_line,
       row_number() OVER (ORDER BY path_key, node) AS dfs_order
FROM walk
ORDER BY dfs_order
"""
_register(
    "dfs_order_recursive",
    _sql_query(
        _DFS_SQL.replace("{STR}", "STRING"),
        ("documents",),
        "T1/T3 DFS lineage ordering + tabtree rendering via recursive CTE",
        oracle=_DFS_SQL.replace("{STR}", "VARCHAR"),
    ),
)

# R8: URL-seen set exactness — the crawl's seen filter
# (frontier/dedup.py UrlSeenSet) is one left-anti join of the candidates
# against the seen URLs, planned entirely in the JVM; the oracle is the
# plain NOT IN (north rule: "final URL-seen set must match the
# reference's").
_SEEN_CAND_SQL = """
SELECT DISTINCT 'http://s' || CAST(event_id % 60 AS {STR}) || '.com/p'
       || CAST(event_id % 250 AS {STR}) AS url
FROM events
"""
_SEEN_SEEN_SQL = """
SELECT DISTINCT 'http://s' || CAST(doc_id % 40 AS {STR}) || '.com/p'
       || CAST(doc_id % 200 AS {STR}) AS url
FROM documents
"""


def _url_seen_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    _load(spark, sf_dir, "events", "documents")
    candidates = spark.sql(_SEEN_CAND_SQL.replace("{STR}", "STRING"))
    seen = spark.sql(_SEEN_SEEN_SQL.replace("{STR}", "STRING"))
    return candidates.join(seen, "url", "left_anti").orderBy("url")


_register(
    "url_seen_filter",
    QueryDef(
        build=_url_seen_filter,
        oracle=(
            "SELECT url FROM ("
            + _SEEN_CAND_SQL.replace("{STR}", "VARCHAR")
            + ") c WHERE url NOT IN (SELECT url FROM ("
            + _SEEN_SEEN_SQL.replace("{STR}", "VARCHAR")
            + ") s) ORDER BY url"
        ),
        doc="R8 URL-seen filter (exact left-anti join) vs NOT IN oracle",
    ),
)




# =============================================================================
# E. RFC 9309 robots rules engine (frontier/robots.py) — the north rule's
# "politeness budgets plus robots.txt rules drive a priority queue".
# Both queries run the REAL engine on a corpus synthesized deterministically
# from `documents`; the oracles re-derive the expected decisions closed-form.
# =============================================================================

# source = 'src' || n  →  Crawl-delay ∈ 1..5  (engine-portable arithmetic)
_DELAY_SPARK = "1 + CAST(substring(source, 4) AS INT) % 5"
_DELAY_DUCK = "1 + CAST(substr(source, 4) AS INTEGER) % 5"

# Six URL path shapes per host exercising: prefix disallow, longest-match
# allow, $-anchored wildcard disallow, no-match, allow-beats-shorter-disallow,
# and the query-string defeating the $ anchor.
_ROBOTS_PATH_CASE = """CASE CAST(doc_id % 6 AS INTEGER)
            WHEN 0 THEN '/private/doc' || CAST(doc_id AS {STR}) || '.html'
            WHEN 1 THEN '/private/ok' || CAST(doc_id AS {STR})
            WHEN 2 THEN '/pub/doc' || CAST(doc_id AS {STR}) || '.tmp'
            WHEN 3 THEN '/pub/doc' || CAST(doc_id AS {STR}) || '.html'
            WHEN 4 THEN '/private/ok' || CAST(doc_id AS {STR}) || '.tmp'
            ELSE '/pub/doc' || CAST(doc_id AS {STR}) || '.tmp?x=1'
       END"""


def _robots_bodies(spark: SparkSession) -> DataFrame:
    """Per-host robots.txt: a decoy group, OUR group (wildcard/$ rules and a
    source-derived Crawl-delay), and a '*' fallback the agent match must NOT
    pick."""
    from pyspark.sql import functions as F

    hosts = spark.sql(
        "SELECT DISTINCT source, source || '.example.com' AS host FROM documents"
    )
    body = F.expr(
        "concat("
        "'User-agent: otherbot\\nDisallow: /\\n\\n',"
        "'User-agent: frontierbot\\n',"
        "'Disallow: /private/\\n',"
        "'Allow: /private/ok*\\n',"
        "'Disallow: /*.tmp$\\n',"
        f"'Crawl-delay: ', CAST({_DELAY_SPARK} AS STRING), '\\n\\n',"
        "'User-agent: *\\nDisallow: /blocked/\\n')"
    )
    return hosts.select("host", body.alias("body"))


def _robots_filter_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .robots import parse_robots_rules, robots_filter

    _load(spark, sf_dir, "documents")
    rules = parse_robots_rules(_robots_bodies(spark), "frontierbot/1.0")
    urls = spark.sql(
        "SELECT 'http://' || source || '.example.com' || "
        + _ROBOTS_PATH_CASE.replace("{STR}", "STRING")
        + " AS url FROM documents"
    )
    out = robots_filter(urls, rules, keep_disallowed=True, broadcast_rules=True)
    return out.select(
        "url",
        F.col("robots_allowed").cast("int").alias("allowed"),
        F.coalesce(F.col("robots_matched_plen"), F.lit(-1)).alias("matched_plen"),
        F.col("robots_crawl_delay").alias("crawl_delay"),
    ).orderBy("url")


_ROBOTS_FILTER_ORACLE = f"""
WITH urls AS (
    SELECT CAST(doc_id % 6 AS INTEGER) AS variant,
           CAST({_DELAY_DUCK} AS DOUBLE) AS crawl_delay,
           'http://' || source || '.example.com' ||
           {_ROBOTS_PATH_CASE} AS url
    FROM documents
)
SELECT url,
       CAST(CASE WHEN variant IN (1, 3, 4, 5) THEN 1 ELSE 0 END AS INTEGER)
           AS allowed,
       CAST(CASE variant WHEN 0 THEN 9 WHEN 1 THEN 12 WHEN 2 THEN 7
                         WHEN 4 THEN 12 ELSE -1 END AS INTEGER)
           AS matched_plen,
       crawl_delay
FROM urls
ORDER BY url
""".replace("{STR}", "VARCHAR")

_register(
    "robots_rules_filter",
    QueryDef(
        build=_robots_filter_build,
        oracle=_ROBOTS_FILTER_ORACLE,
        doc=(
            "RFC 9309 Allow/Disallow engine: longest-match wins, Allow wins "
            "ties, $ anchor, query-string match target; closed-form oracle"
        ),
    ),
)

# Crawl-delay → per-host budget → salted two-level priority-queue plan.
_PLAN_PAGES_SQL = """
SELECT 'http://' || source || '.example.com/p' || CAST(doc_id AS {STR})
           AS page_url,
       CAST(doc_id % 10 AS DOUBLE) / 10 AS priority,
       CAST(NULL AS TIMESTAMP) AS last_modified,
       source
FROM documents
"""


def _budget_plan_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .robots import (
        fetch_plan_budgeted,
        host_budgets_from_delay,
        parse_robots_rules,
    )

    _load(spark, sf_dir, "documents")
    rules = parse_robots_rules(_robots_bodies(spark), "frontierbot/1.0")
    budgets = host_budgets_from_delay(rules, round_seconds=30, default_budget=12)
    pages = spark.sql(_PLAN_PAGES_SQL.replace("{STR}", "STRING")).drop("source")
    plan = fetch_plan_budgeted(pages, budgets, default_budget=12, salt_buckets=4)
    return plan.select(
        "canonical_host", "page_url", "fetch_rank", "fetch_budget"
    ).orderBy("canonical_host", "fetch_rank")


_BUDGET_PLAN_ORACLE = f"""
WITH pages AS (
    SELECT source || '.example.com' AS canonical_host,
           p.page_url, p.priority,
           LEAST(12, GREATEST(1, CAST(FLOOR(30.0 / ({_DELAY_DUCK}))
               AS INTEGER))) AS fetch_budget
    FROM ({_PLAN_PAGES_SQL}) p
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY canonical_host
        ORDER BY priority DESC, page_url) AS fetch_rank
    FROM pages
)
SELECT canonical_host, page_url,
       CAST(fetch_rank AS INTEGER) AS fetch_rank, fetch_budget
FROM ranked
WHERE fetch_rank <= fetch_budget
ORDER BY canonical_host, fetch_rank
""".replace("{STR}", "VARCHAR")

_register(
    "robots_budget_plan",
    QueryDef(
        build=_budget_plan_build,
        oracle=_BUDGET_PLAN_ORACLE,
        doc=(
            "Crawl-delay → per-host budget → salted two-level top-k priority "
            "queue (engine) vs window-rank closed-form oracle"
        ),
    ),
)


# =============================================================================
# F. Pages-corpus operators (frontier/pages.py — the north-rule input shape).
# Spark side runs the REAL kernels on html synthesized from `documents`;
# oracles state the expected output closed-form.
# =============================================================================


def _pages_extract_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pages import extract_text

    _load(spark, sf_dir, "documents")
    pages = spark.sql(
        """
        SELECT 'http://' || source || '.example.com/d'
                   || CAST(doc_id AS STRING) || '.html' AS url,
               encode('<html><head><title>Doc ' || CAST(doc_id AS STRING)
                   || ' &amp; more</title></head><body><h1>Doc '
                   || CAST(doc_id AS STRING) || '</h1><p>' || text
                   || '</p><script>var x = 1;</script></body></html>',
                   'utf-8') AS html
        FROM documents
        """
    )
    return extract_text(pages).select("url", "extracted_text").orderBy("url")


_PAGES_EXTRACT_ORACLE = """
SELECT 'http://' || source || '.example.com/d'
           || CAST(doc_id AS VARCHAR) || '.html' AS url,
       'Doc ' || CAST(doc_id AS VARCHAR) || ' & more' || chr(10)
           || 'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || text
           AS extracted_text
FROM documents
ORDER BY url
"""

_register(
    "pages_text_extract",
    QueryDef(
        build=_pages_extract_build,
        oracle=_PAGES_EXTRACT_ORACLE,
        doc=(
            "byte-identical HTML→text invariant: real extraction kernel "
            "(entity decode, script drop, block join) vs closed-form text"
        ),
    ),
)


def _latest_capture_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .pages import latest_capture

    _load(spark, sf_dir, "documents")
    # recrawl log: ~97 URLs captured repeatedly; warc_ts unique per row
    # (hour component varies within a URL group, second component globally)
    captures = spark.sql(
        """
        SELECT 'http://cc.example.com/p' || CAST(doc_id % 97 AS STRING) AS url,
               timestampadd(SECOND, CAST(doc_id AS INT),
                   timestampadd(HOUR, CAST(doc_id % 17 AS INT),
                       TIMESTAMP '2025-01-01 00:00:00')) AS warc_ts,
               encode(text, 'utf-8') AS html,
               text, lang
        FROM documents
        """
    )
    return (
        latest_capture(captures)
        .select(
            "url",
            F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("capture_ts"),
            "text",
            "lang",
            "n_captures",
        )
        .orderBy("url")
    )


_LATEST_CAPTURE_ORACLE = """
WITH captures AS (
    SELECT 'http://cc.example.com/p' || CAST(doc_id % 97 AS VARCHAR) AS url,
           TIMESTAMP '2025-01-01 00:00:00'
               + INTERVAL 1 HOUR * (doc_id % 17)
               + INTERVAL 1 SECOND * doc_id AS warc_ts,
           text, lang
    FROM documents
),
ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC) AS rn,
           count(*) OVER (PARTITION BY url) AS n_captures
    FROM captures
)
SELECT url, strftime(warc_ts, '%Y-%m-%d %H:%M:%S') AS capture_ts,
       text, lang, n_captures
FROM ranked WHERE rn = 1
ORDER BY url
"""

_register(
    "pages_latest_capture",
    QueryDef(
        build=_latest_capture_build,
        oracle=_LATEST_CAPTURE_ORACLE,
        doc=(
            "CC-style recrawl dedup: newest warc_ts wins via single "
            "map-side-combined max_by shuffle vs window-rank oracle"
        ),
    ),
)


# Link discovery: <a href> targets from the html binary column, resolved
# against the page URL (RFC 3986), defragmented, per-page first-occurrence
# deduped, then canonicalized — the edge list a crawl frontier grows by
# beyond sitemaps. Spark runs the REAL kernel (frontier/pages.py
# html_outlinks: HTMLParser + urljoin inside an Arrow mapInPandas — link
# tokenization is genuinely not SQL); the synthetic corpus makes the
# resolution closed-form so the oracle states the expected edges directly.
# Each page carries a relative href, a root-relative href, an absolute
# external href, a fragment-duplicate of the relative one (must collapse),
# and mailto:/javascript:/#top hrefs (must be skipped).
def _outlinks_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .pages import extract_links

    _load(spark, sf_dir, "documents")
    pages = spark.sql(
        """
        SELECT 'http://' || source || '.example.com/dir/d'
                   || CAST(doc_id AS STRING) || '.html' AS url,
               encode('<html><body>'
                   || '<a href="rel' || CAST(doc_id AS STRING)
                   || '.html">r</a>'
                   || '<a href="/root' || CAST(doc_id AS STRING)
                   || '.html">o</a>'
                   || '<a href="http://ext.example.org/abs'
                   || CAST(doc_id % 13 AS STRING) || '">x</a>'
                   || '<a href="rel' || CAST(doc_id AS STRING)
                   || '.html#frag">dup</a>'
                   || '<a href="mailto:x@example.com">m</a>'
                   || '<a href="javascript:void(0)">j</a>'
                   || '<a href="#top">t</a>'
                   || '</body></html>', 'utf-8') AS html
        FROM documents
        """
    )
    return extract_links(pages).orderBy("url", "outlink")


_OUTLINKS_ORACLE = """
WITH pages AS (
    SELECT 'http://' || source || '.example.com' AS origin,
           'http://' || source || '.example.com/dir/d'
               || CAST(doc_id AS VARCHAR) || '.html' AS url,
           doc_id
    FROM documents
)
SELECT url, outlink FROM (
    SELECT url, origin || '/dir/rel' || CAST(doc_id AS VARCHAR)
               || '.html' AS outlink FROM pages
    UNION ALL
    SELECT url, origin || '/root' || CAST(doc_id AS VARCHAR) || '.html'
        FROM pages
    UNION ALL
    SELECT url, 'http://ext.example.org/abs' || CAST(doc_id % 13 AS VARCHAR)
        FROM pages
)
ORDER BY url, outlink
"""

_register(
    "html_outlinks",
    QueryDef(
        build=_outlinks_build,
        oracle=_OUTLINKS_ORACLE,
        doc=(
            "link discovery from html binary: real HTMLParser+urljoin "
            "kernel (relative/root/absolute resolution, defrag dedup, "
            "scheme skips) vs closed-form expected edge list"
        ),
    ),
)


# Anchor-text extraction (frontier/pages.py extract_anchors): the labeled
# edge list — (url, outlink, anchor) with the anchor text of each outlink's
# first occurrence, entities decoded, first-wins on duplicate hrefs, empty
# anchor for contentless (image) links. Same real-kernel-vs-closed-form
# pattern as html_outlinks.
def _anchors_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pages import extract_anchors

    _load(spark, sf_dir, "documents")
    pages = spark.sql(
        """
        SELECT 'http://' || source || '.example.com/dir/d'
                   || CAST(doc_id AS STRING) || '.html' AS url,
               encode('<html><body>'
                   || '<a href="rel' || CAST(doc_id AS STRING)
                   || '.html">Doc ' || CAST(doc_id AS STRING)
                   || ' &amp; co</a>'
                   || '<a href="http://ext.example.org/abs'
                   || CAST(doc_id % 13 AS STRING) || '"/>'
                   || '<a href="rel' || CAST(doc_id AS STRING)
                   || '.html">second spelling loses</a>'
                   || '</body></html>', 'utf-8') AS html
        FROM documents
        """
    )
    return extract_anchors(pages).orderBy("url", "outlink")


_ANCHORS_ORACLE = """
WITH pages AS (
    SELECT 'http://' || source || '.example.com' AS origin,
           'http://' || source || '.example.com/dir/d'
               || CAST(doc_id AS VARCHAR) || '.html' AS url,
           doc_id
    FROM documents
)
SELECT url, outlink, anchor FROM (
    SELECT url, origin || '/dir/rel' || CAST(doc_id AS VARCHAR)
               || '.html' AS outlink,
           'Doc ' || CAST(doc_id AS VARCHAR) || ' & co' AS anchor
    FROM pages
    UNION ALL
    SELECT url, 'http://ext.example.org/abs' || CAST(doc_id % 13 AS VARCHAR),
           ''
    FROM pages
)
ORDER BY url, outlink
"""

_register(
    "anchor_texts",
    QueryDef(
        build=_anchors_build,
        oracle=_ANCHORS_ORACLE,
        doc=(
            "labeled link edges: (url, outlink, anchor) via the real "
            "kernel (entity decode, first-wins dedup, empty image-link "
            "anchors) vs closed-form expected pairs"
        ),
    ),
)


# Host-level link graph (frontier/pages.py host_link_graph): page edges →
# weighted (src_host, dst_host, n_links) with self-host edges dropped — the
# aggregation that feeds host_pagerank. Spark runs extract_links (real
# kernel) then the partial-agg groupBy; the oracle restates the expected
# host pairs closed-form.
def _hostgraph_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pages import extract_links, host_link_graph

    _load(spark, sf_dir, "documents")
    pages = spark.sql(
        """
        SELECT 'http://' || source || '.example.com/d'
                   || CAST(doc_id AS STRING) || '.html' AS url,
               encode('<html><body>'
                   || '<a href="self' || CAST(doc_id AS STRING)
                   || '.html">self edge drops</a>'
                   || '<a href="http://h' || CAST(doc_id % 7 AS STRING)
                   || '.example.net/p' || CAST(doc_id AS STRING) || '">x</a>'
                   || '<a href="http://ext.example.org/e'
                   || CAST(doc_id % 13 AS STRING) || '">y</a>'
                   || '</body></html>', 'utf-8') AS html
        FROM documents
        """
    )
    return host_link_graph(extract_links(pages)).orderBy("src_host", "dst_host")


_HOSTGRAPH_ORACLE = """
SELECT src_host, dst_host, COUNT(*) AS n_links FROM (
    SELECT source || '.example.com' AS src_host,
           'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.net' AS dst_host
    FROM documents
    UNION ALL
    SELECT source || '.example.com', 'ext.example.org' FROM documents
)
GROUP BY src_host, dst_host
ORDER BY src_host, dst_host
"""

_register(
    "host_link_graph",
    QueryDef(
        build=_hostgraph_build,
        oracle=_HOSTGRAPH_ORACLE,
        doc=(
            "page edges -> weighted host graph (self-host edges dropped) "
            "via one partial-agg groupBy on host strings; feeds "
            "host_pagerank"
        ),
    ),
)


# Link-graph BFS frontier expansion (frontier/pages.py expand_frontier):
# min-hop reachability from a seed set over the corpus's REAL extracted
# edges (extract_links kernel), O(max_depth) rounds of join + anti-join on
# URL strings. The synthetic corpus gives node i two absolute outlinks
# (2i+1) % N and (3i+7) % N, so the expected edge list is closed-form and
# the oracle is a recursive-CTE reachability closure with MIN(depth).
_REACH_DEPTH = 6


def _node_url(expr: str, s: str) -> str:
    return (
        f"'http://g' || CAST(({expr}) % 23 AS {s}) || '.example.com/p'"
        f" || CAST(({expr}) AS {s})"
    )


def _reach_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pages import expand_frontier

    _load(spark, sf_dir, "documents")
    u = lambda e: _node_url(e, "STRING")  # noqa: E731
    corpus = spark.sql(
        f"""
        WITH n AS (SELECT COUNT(*) AS cnt FROM documents)
        SELECT {u('doc_id')} AS url,
               encode('<html><body>'
                   || '<a href="' || {u('(2*doc_id+1) % cnt')} || '">a</a>'
                   || '<a href="' || {u('(3*doc_id+7) % cnt')} || '">b</a>'
                   || '</body></html>', 'utf-8') AS html
        FROM documents CROSS JOIN n
        """
    )
    seeds = spark.sql(
        f"SELECT {u('doc_id')} AS url FROM documents WHERE doc_id < 3"
    )
    return expand_frontier(corpus, seeds, max_depth=_REACH_DEPTH).orderBy("url")


def _reach_oracle() -> str:
    u = lambda e: _node_url(e, "VARCHAR")  # noqa: E731
    return f"""
WITH RECURSIVE n AS (SELECT COUNT(*) AS cnt FROM documents),
edges AS (
    SELECT {u('doc_id')} AS src, {u('(2*doc_id+1) % cnt')} AS dst
    FROM documents CROSS JOIN n
    UNION ALL
    SELECT {u('doc_id')}, {u('(3*doc_id+7) % cnt')}
    FROM documents CROSS JOIN n
),
reach AS (
    SELECT {u('doc_id')} AS url, 0 AS depth FROM documents WHERE doc_id < 3
    UNION
    SELECT e.dst, r.depth + 1
    FROM reach r JOIN edges e ON e.src = r.url
    WHERE r.depth < {_REACH_DEPTH}
)
SELECT url, CAST(MIN(depth) AS INTEGER) AS depth
FROM reach GROUP BY url ORDER BY url
"""


_register(
    "link_graph_reach",
    QueryDef(
        build=_reach_build,
        oracle=_reach_oracle(),
        doc=(
            "frontier expansion: min-hop BFS from seeds over REAL "
            "extract_links edges (join + anti-join per hop, checkpointed "
            "lineage) vs recursive-CTE closure with MIN(depth)"
        ),
    ),
)


# Changefreq-driven recrawl scheduling (frontier/schedule.py recrawl_plan):
# the scheduling half of the sitemap <changefreq> field the parser extracts
# (P9) — interval mapping with 'never' exclusion and invalid→daily default,
# overdue seconds vs an as-of instant, due flag. Pure codegen columns; the
# oracle restates the CASE map in SQL. 'purple' exercises the invalid
# fallback (the reference coerces invalid changefreq to absent).
_RECRAWL_AS_OF = "2025-06-01 12:00:00"


def _recrawl_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .schedule import recrawl_plan

    _load(spark, sf_dir, "documents")
    frontier = spark.sql(
        """
        SELECT 'http://h' || CAST(doc_id % 23 AS STRING) || '.example.com/p'
                   || CAST(doc_id AS STRING) AS url,
               timestampadd(HOUR, - CAST(doc_id % 2000 AS INT),
                   TIMESTAMP '2025-06-01 00:00:00') AS lastmod,
               element_at(array('always','hourly','daily','weekly','monthly',
                   'yearly','never','purple'), CAST(doc_id % 8 AS INT) + 1)
                   AS changefreq,
               CAST(doc_id % 11 AS DOUBLE) / 10.0 AS priority
        FROM documents
        """
    )
    return recrawl_plan(frontier, _RECRAWL_AS_OF).orderBy("url")


_RECRAWL_ORACLE = f"""
WITH frontier AS (
    SELECT 'http://h' || CAST(doc_id % 23 AS VARCHAR) || '.example.com/p'
               || CAST(doc_id AS VARCHAR) AS url,
           TIMESTAMP '2025-06-01 00:00:00'
               - INTERVAL 1 HOUR * (doc_id % 2000) AS lastmod,
           (['always','hourly','daily','weekly','monthly','yearly','never',
             'purple'])[CAST(doc_id % 8 AS INT) + 1] AS changefreq,
           CAST(doc_id % 11 AS DOUBLE) / 10.0 AS priority
    FROM documents
),
plan AS (
    SELECT url, lower(trim(changefreq)) AS changefreq_norm,
           CASE lower(trim(changefreq))
               WHEN 'never' THEN NULL
               WHEN 'always' THEN 300
               WHEN 'hourly' THEN 3600
               WHEN 'daily' THEN 86400
               WHEN 'weekly' THEN 604800
               WHEN 'monthly' THEN 2592000
               WHEN 'yearly' THEN 31536000
               ELSE 86400 END AS interval_s,
           date_diff('second', lastmod,
               TIMESTAMP '{_RECRAWL_AS_OF}') AS age_s,
           priority
    FROM frontier
)
SELECT url, changefreq_norm,
       CAST(interval_s AS BIGINT) AS interval_s,
       CAST(age_s - interval_s AS BIGINT) AS overdue_s,
       CASE WHEN interval_s IS NULL THEN FALSE
            ELSE age_s - interval_s >= 0 END AS due,
       priority
FROM plan
ORDER BY url
"""

_register(
    "recrawl_schedule",
    QueryDef(
        build=_recrawl_build,
        oracle=_RECRAWL_ORACLE,
        doc=(
            "changefreq -> recrawl interval plan (never excluded, "
            "invalid->daily, overdue seconds + due flag) as pure codegen "
            "columns vs the same CASE map in SQL"
        ),
    ),
)


# Recrawl e2e: changefreq plan -> due filter -> per-host politeness top-k
# ranked by (priority desc, overdue desc) — the full "what do we fetch next
# round" answer, composing recrawl_plan with the salted fetch_plan queue so
# urgency is only ever ordered within a host partition (never a global
# sort). The salted two-level top-k must equal the oracle's plain window
# rank — that equivalence IS the assertion.
_RECRAWL_BUDGET = 5


def _recrawl_fetch_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .schedule import fetch_plan, recrawl_plan

    _load(spark, sf_dir, "documents")
    frontier = spark.sql(
        """
        SELECT 'http://h' || CAST(doc_id % 23 AS STRING) || '.example.com/p'
                   || CAST(doc_id AS STRING) AS url,
               timestampadd(HOUR, - CAST(doc_id % 2000 AS INT),
                   TIMESTAMP '2025-06-01 00:00:00') AS lastmod,
               element_at(array('always','hourly','daily','weekly','monthly',
                   'yearly','never','purple'), CAST(doc_id % 8 AS INT) + 1)
                   AS changefreq,
               CAST(doc_id % 11 AS DOUBLE) / 10.0 AS priority
        FROM documents
        """
    )
    due = recrawl_plan(frontier, _RECRAWL_AS_OF).filter("due")
    plan = fetch_plan(
        due,
        budget_per_host=_RECRAWL_BUDGET,
        url_col="url",
        salt_buckets=8,
        ordered=(F.col("priority").desc(), F.col("overdue_s").desc(),
                 F.col("url")),
    )
    return plan.select(
        "canonical_host", "url", "fetch_rank", "overdue_s", "priority"
    ).orderBy("canonical_host", "fetch_rank")


_RECRAWL_FETCH_ORACLE = f"""
WITH frontier AS (
    SELECT 'http://h' || CAST(doc_id % 23 AS VARCHAR) || '.example.com/p'
               || CAST(doc_id AS VARCHAR) AS url,
           'h' || CAST(doc_id % 23 AS VARCHAR) || '.example.com'
               AS canonical_host,
           TIMESTAMP '2025-06-01 00:00:00'
               - INTERVAL 1 HOUR * (doc_id % 2000) AS lastmod,
           (['always','hourly','daily','weekly','monthly','yearly','never',
             'purple'])[CAST(doc_id % 8 AS INT) + 1] AS changefreq,
           CAST(doc_id % 11 AS DOUBLE) / 10.0 AS priority
    FROM documents
),
plan AS (
    SELECT url, canonical_host, priority,
           CASE lower(trim(changefreq))
               WHEN 'never' THEN NULL
               WHEN 'always' THEN 300
               WHEN 'hourly' THEN 3600
               WHEN 'daily' THEN 86400
               WHEN 'weekly' THEN 604800
               WHEN 'monthly' THEN 2592000
               WHEN 'yearly' THEN 31536000
               ELSE 86400 END AS interval_s,
           date_diff('second', lastmod,
               TIMESTAMP '{_RECRAWL_AS_OF}') AS age_s
    FROM frontier
),
due AS (
    SELECT url, canonical_host, priority,
           CAST(age_s - interval_s AS BIGINT) AS overdue_s
    FROM plan
    WHERE interval_s IS NOT NULL AND age_s - interval_s >= 0
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
               PARTITION BY canonical_host
               ORDER BY priority DESC, overdue_s DESC, url
           ) AS fetch_rank
    FROM due
)
SELECT canonical_host, url, CAST(fetch_rank AS INTEGER) AS fetch_rank,
       overdue_s, priority
FROM ranked
WHERE fetch_rank <= {_RECRAWL_BUDGET}
ORDER BY canonical_host, fetch_rank
"""

_register(
    "recrawl_fetch_plan",
    QueryDef(
        build=_recrawl_fetch_build,
        oracle=_RECRAWL_FETCH_ORACLE,
        doc=(
            "recrawl e2e: due filter -> salted per-host top-k by (priority "
            "desc, overdue desc) — salted two-level rank must equal the "
            "plain window oracle"
        ),
    ),
)


# URL canonicalization dedup (frontier/urlnorm.py — crawl-core): messy URL
# spellings synthesized from `documents` collapse to canonical
# representatives; variants counted, earliest original kept (first-wins).
# Six spellings per logical page: scheme/host case, default port, tracking
# params + unsorted query, sorted query, fragment, clean.
_MESSY_URLS_SQL = """
SELECT doc_id,
       CASE CAST(doc_id % 6 AS INTEGER)
            WHEN 0 THEN 'HTTP://' || upper(source) || '.EXAMPLE.COM/p'
                 || CAST(doc_id % 50 AS {STR})
            WHEN 1 THEN 'http://' || source || '.example.com:80/p'
                 || CAST(doc_id % 50 AS {STR})
            WHEN 2 THEN 'http://' || source || '.example.com/p'
                 || CAST(doc_id % 50 AS {STR}) || '?utm_source=x&b=2&a=1'
            WHEN 3 THEN 'http://' || source || '.example.com/p'
                 || CAST(doc_id % 50 AS {STR}) || '?a=1&b=2'
            WHEN 4 THEN 'http://' || source || '.example.com/p'
                 || CAST(doc_id % 50 AS {STR}) || '#frag'
            ELSE 'http://' || source || '.example.com/p'
                 || CAST(doc_id % 50 AS {STR})
       END AS url
FROM documents
"""


def _url_canon_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .urlnorm import canonical_url

    _load(spark, sf_dir, "documents")
    urls = spark.sql(_MESSY_URLS_SQL.replace("{STR}", "STRING"))
    return (
        urls.withColumn("canonical", canonical_url("url"))
        .groupBy("canonical")
        .agg(
            F.count("*").alias("n_variants"),
            F.min("url").alias("first_url"),
        )
        .orderBy("canonical")
    )


# Closed-form oracle: variants 0,1,4,5 canonicalize to the bare URL;
# 2,3 to '?a=1&b=2'. Counting/min re-derived from the same id arithmetic.
_URL_CANON_ORACLE = f"""
WITH messy AS ({_MESSY_URLS_SQL}),
canon AS (
    SELECT m.url,
           CASE WHEN CAST(doc_id % 6 AS INTEGER) IN (2, 3)
                THEN 'http://' || source || '.example.com/p'
                     || CAST(doc_id % 50 AS VARCHAR) || '?a=1&b=2'
                ELSE 'http://' || source || '.example.com/p'
                     || CAST(doc_id % 50 AS VARCHAR)
           END AS canonical
    FROM messy m JOIN documents USING (doc_id)
)
SELECT canonical,
       COUNT(*) AS n_variants,
       MIN(url) AS first_url
FROM canon
GROUP BY canonical
ORDER BY canonical
""".replace("{STR}", "VARCHAR")

_register(
    "url_canonical_dedup",
    QueryDef(
        build=_url_canon_build,
        oracle=_URL_CANON_ORACLE,
        doc=(
            "URL canonicalization (case, default port, tracking params, "
            "query sort, fragment) + first-wins collapse vs closed form"
        ),
    ),
)


# =============================================================================
# G. LLM-pipeline text hygiene: PII scrubbing + intra-document repetition.
# =============================================================================

# PII scrub: deterministic PII (email/phone/IPv4) is injected around the
# document text, then the GENERIC scrub pipeline runs — placeholder
# substitution + per-kind counts. The base text is letters/spaces only, so
# injected spans are the exact expected matches.
_PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
_PII_IP_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

_PII_DOC_SQL = """
SELECT doc_id,
       text || ' mail u' || CAST(doc_id AS {STR}) || '@m'
            || CAST(doc_id % 7 AS {STR}) || '.example.com'
            || CASE WHEN doc_id % 3 = 0
                    THEN ' cc admin@corp' || CAST(doc_id % 5 AS {STR}) || '.org'
                    ELSE '' END
            || ' tel 555-01' || CAST(doc_id % 10 AS {STR}) || '-'
            || CAST(1000 + doc_id % 9000 AS {STR})
            || ' host ' || CAST(doc_id % 256 AS {STR}) || '.'
            || CAST((doc_id * 7) % 256 AS {STR}) || '.0.'
            || CAST((doc_id * 13) % 256 AS {STR})
            AS raw
FROM documents
"""


def _pii_sql(count_email: str, count_phone: str, count_ip: str,
             docs: str) -> str:
    return f"""
WITH docs AS ({docs})
SELECT doc_id,
       regexp_replace(
           regexp_replace(
               regexp_replace(raw, '{_PII_EMAIL_RE}', '<EMAIL>'{{G}}),
               '{_PII_PHONE_RE}', '<PHONE>'{{G}}),
           '{_PII_IP_RE}', '<IP>'{{G}}) AS scrubbed,
       CAST({count_email} AS BIGINT) AS n_emails,
       CAST({count_phone} AS BIGINT) AS n_phones,
       CAST({count_ip} AS BIGINT) AS n_ips
FROM docs
ORDER BY doc_id
"""


def _spark_rx(rx: str) -> str:
    """Spark SQL string literals escape-process backslashes ('\\.' collapses
    to '.', '\\b' to backspace) — double them so the REGEX reaches the
    engine intact; DuckDB standard literals keep backslashes as-is."""
    return rx.replace("\\", "\\\\")


_PII_SPARK_SQL = _pii_sql(
    f"regexp_count(raw, '{_PII_EMAIL_RE}')",
    f"regexp_count(raw, '{_PII_PHONE_RE}')",
    f"regexp_count(raw, '{_PII_IP_RE}')",
    _PII_DOC_SQL.replace("{STR}", "STRING"),
).replace("{G}", "")
for _rx in (_PII_EMAIL_RE, _PII_PHONE_RE, _PII_IP_RE):
    _PII_SPARK_SQL = _PII_SPARK_SQL.replace(f"'{_rx}'", f"'{_spark_rx(_rx)}'")

_register(
    "text_pii_scrub",
    _sql_query(
        _PII_SPARK_SQL,
        ("documents",),
        "PII scrubbing: email/phone/IPv4 placeholder substitution + counts "
        "(pure codegen regexp chain — the standard pre-training hygiene op)",
        oracle=_pii_sql(
            f"len(regexp_extract_all(raw, '{_PII_EMAIL_RE}'))",
            f"len(regexp_extract_all(raw, '{_PII_PHONE_RE}'))",
            f"len(regexp_extract_all(raw, '{_PII_IP_RE}'))",
            _PII_DOC_SQL.replace("{STR}", "VARCHAR"),
        ).replace("{G}", ", 'g'"),
    ),
)

# Intra-document repetition: fraction of repeated 3-word shingles —
# the boilerplate/spam signal of LLM quality filtering. Pure higher-order
# array expressions; the ratio is an exact IEEE division of two ints.
def _repetition_sql(words_expr: str, shingles_expr: str, size_fn: str,
                    distinct_fn: str) -> str:
    return f"""
WITH toks AS (
    SELECT doc_id, {words_expr} AS words FROM documents
),
sh AS (
    SELECT doc_id, {shingles_expr} AS shingles FROM toks
)
SELECT doc_id,
       CAST({size_fn}(shingles) AS BIGINT) AS n_shingles,
       CAST({size_fn}({distinct_fn}(shingles)) AS BIGINT) AS n_distinct,
       CASE WHEN {size_fn}(shingles) > 0
            THEN 1.0 - CAST({size_fn}({distinct_fn}(shingles)) AS DOUBLE)
                 / {size_fn}(shingles)
            ELSE CAST(0.0 AS DOUBLE) END AS repetition
FROM sh
ORDER BY doc_id
"""


_register(
    "text_repetition_score",
    _sql_query(
        _repetition_sql(_SPARK_WORDS, _SPARK_SHINGLES, "size", "array_distinct"),
        ("documents",),
        "intra-doc repeated-shingle fraction (boilerplate/spam signal)",
        oracle=_repetition_sql(
            _DUCK_WORDS, _DUCK_SHINGLES, "len", "list_distinct"
        ),
    ),
)


# =============================================================================
# H. Training-set assembly: deterministic stratified sampling + sequence
# packing (context-window binning) — the last mile of an LLM data pipeline.
# =============================================================================

# Stratified sample with NO rand(): the keep decision is a pure function of
# a stable row hash, so the sample is reproducible across engines, retries
# and cluster sizes (rand()-based sampleBy is none of those). Per-lang
# rates: en 50%, de 25%, fr 25%, es 10% of 256 hash buckets.
_SAMPLE_SQL = """
SELECT doc_id, lang, n_chars
FROM (
    SELECT doc_id, lang, n_chars,
           CAST({BUCKET} AS INTEGER) AS bucket
    FROM documents
) h
WHERE bucket < CASE lang
    WHEN 'en' THEN 128 WHEN 'de' THEN 64 WHEN 'fr' THEN 64 ELSE 26 END
ORDER BY doc_id
"""
# same md5-derived bucket on both engines: first 4 hex chars -> int % 256
_BUCKET_SPARK = "conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) % 256"
_BUCKET_DUCK = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER % 256"
)
_register(
    "sample_stratified_deterministic",
    _sql_query(
        _SAMPLE_SQL.replace("{BUCKET}", _BUCKET_SPARK),
        ("documents",),
        "reproducible per-lang downsampling via stable hash buckets "
        "(no rand(): identical across engines, retries, cluster sizes)",
        oracle=_SAMPLE_SQL.replace("{BUCKET}", _BUCKET_DUCK),
    ),
)

# Sequence packing: greedy in-order binning of documents into ~512-token
# context windows per lang — one window-cumsum per shard, no shuffle beyond
# the partition key, the standard pre-training batch-assembly step. The
# running sum EXCLUDES the current doc, so a doc lands in the bin that was
# open when it arrived (docs longer than the budget occupy their own bins).
_PACK_SQL = """
WITH toks AS (
    SELECT doc_id, lang,
           CAST({size_fn}({words_expr}) AS BIGINT) AS n_tokens
    FROM documents
),
packed AS (
    SELECT doc_id, lang, n_tokens,
           COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS tokens_before
    FROM toks
)
SELECT doc_id, lang, n_tokens,
       CAST(FLOOR(tokens_before / 512.0) AS BIGINT) AS pack_bin,
       CAST(tokens_before AS BIGINT) AS tokens_before
FROM packed
ORDER BY lang, doc_id
"""
_register(
    "pack_context_windows",
    _sql_query(
        _PACK_SQL.replace("{size_fn}", "size").replace(
            "{words_expr}", _SPARK_WORDS
        ),
        ("documents",),
        "sequence packing: in-order token-budget binning per lang via one "
        "window running-sum (pre-training batch assembly)",
        oracle=_PACK_SQL.replace("{size_fn}", "len").replace(
            "{words_expr}", _DUCK_WORDS
        ),
    ),
)


# Benchmark decontamination: flag training docs sharing any word 5-gram with
# a held-out eval set (the GPT-3/PaLM n-gram-overlap recipe, 5-gram here to
# fit the synthetic docs). Eval set = doc_id % 29 == 0, deterministic.
# Scale shape: grams are md5'd map-side; the eval side is tiny (distinct
# eval grams) and broadcast-joins against the train grams — never an
# all-pairs doc comparison, never a shuffle of document text.
_DECON_EVAL_MOD = 29

_SPARK_GRAMS5 = (
    "CASE WHEN size(words) >= 5 THEN "
    "transform(sequence(1, size(words) - 4), "
    "i -> md5(concat_ws(' ', slice(words, i, 5)))) "
    "ELSE array() END"
)
_DUCK_GRAMS5 = (
    "CASE WHEN len(words) >= 5 THEN "
    "list_transform(range(1, len(words) - 3), "
    "i -> md5(array_to_string(words[i:i+4], ' '))) "
    "ELSE [] END"
)

_DECON_FINAL = f"""
SELECT g.doc_id,
       COUNT(DISTINCT g.gram) AS n_contaminated_grams
FROM grams g JOIN eval_grams e ON g.gram = e.gram
WHERE g.doc_id % {_DECON_EVAL_MOD} <> 0
GROUP BY g.doc_id
ORDER BY doc_id
"""

_DECON_HANDLES: dict[str, DataFrame] = {}


def _decontam_views(spark: SparkSession, sf_dir: str) -> None:
    """Persist the exploded gram table once (a CTE would re-run the
    md5-transform pipeline for the eval and train sides separately) and
    register the ``grams`` / ``eval_grams`` views both decontam variants
    probe."""
    for h in _DECON_HANDLES.values():
        h.unpersist()
    _DECON_HANDLES.clear()
    _load(spark, sf_dir, "documents")
    # materialization boundary BELOW the explode: InferFiltersFromGenerate
    # puts a size(grams) > 0 filter above every Generate, and pushdown
    # inlines the gram expression into it — for element_at-built grams that
    # filter re-tokenizes the document per element_at call, O(words²) regex
    # splits per doc (measured 9.0 s vs 1.9 s at sf0.1 for this build).
    # Persisting the (doc_id, grams) arrays first makes the inferred filter
    # probe a cached column instead.
    gram_arrays = spark.sql(f"""
        SELECT doc_id, {_SPARK_GRAMS5} AS grams
        FROM (SELECT doc_id, {_SPARK_WORDS} AS words FROM documents) w
    """).persist()
    gram_arrays.createOrReplaceTempView("gram_arrays")
    grams = spark.sql(
        "SELECT doc_id, g.gram AS gram FROM gram_arrays"
        " LATERAL VIEW explode(grams) g AS gram"
    ).persist()
    grams.createOrReplaceTempView("grams")
    _DECON_HANDLES["gram_arrays"] = gram_arrays
    _DECON_HANDLES["grams"] = grams
    spark.sql(
        f"SELECT DISTINCT gram FROM grams WHERE doc_id % {_DECON_EVAL_MOD} = 0"
    ).createOrReplaceTempView("eval_grams")


def _decontam_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    _decontam_views(spark, sf_dir)
    return spark.sql(
        # eval_grams is the small side: hint it broadcast so the train-side
        # gram stream never shuffles on the join key.
        _DECON_FINAL.replace(
            "SELECT g.doc_id,",
            "SELECT /*+ BROADCAST(e) */ g.doc_id,",
        )
    )


_DECON_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {_DUCK_WORDS} AS words FROM documents
),
grams AS (
    SELECT doc_id, unnest(grams) AS gram
    FROM (SELECT doc_id, {_DUCK_GRAMS5} AS grams FROM toks) g
),
eval_grams AS (
    SELECT DISTINCT gram FROM grams WHERE doc_id % {_DECON_EVAL_MOD} = 0
)
{_DECON_FINAL}
"""

_register(
    "decontam_ngram_overlap",
    QueryDef(
        build=_decontam_build,
        oracle=_DECON_ORACLE,
        doc="benchmark decontamination: train docs sharing any word 5-gram "
        "with the held-out eval slice (broadcast eval grams, no all-pairs)",
    ),
)


# Domain mixing weights: per-source token counts and the sampling weight
# that reweights the observed mixture to a uniform target share (the
# DoReMi/Pile-style domain-mixing primitive). One partial-agg groupBy over
# (source); the 1-row total broadcasts. Bit-exact across engines: every
# division is on explicit DOUBLE casts of exact integer aggregates.
_MIX_SQL = """
WITH tok AS (
    SELECT source, CAST({size_fn}({words_expr}) AS BIGINT) AS n_tokens
    FROM documents
),
agg AS (
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens
    FROM tok GROUP BY source
),
tot AS (
    SELECT CAST(SUM(tokens) AS BIGINT) AS total,
           COUNT(*) AS n_sources
    FROM agg
)
SELECT source, n_docs, tokens,
       CAST(tokens AS DOUBLE) / CAST(total AS DOUBLE) AS token_share,
       (CAST(total AS DOUBLE) / CAST(n_sources AS DOUBLE))
           / CAST(tokens AS DOUBLE) AS mix_weight
FROM agg CROSS JOIN tot
ORDER BY source
"""
_register(
    "mix_domain_weights",
    _sql_query(
        _MIX_SQL.replace("{size_fn}", "size").replace(
            "{words_expr}", _SPARK_WORDS
        ),
        ("documents",),
        "domain-mixing weights: per-source token share and the uniform-"
        "target resampling weight (one partial-agg groupBy, broadcast total)",
        oracle=_MIX_SQL.replace("{size_fn}", "len").replace(
            "{words_expr}", _DUCK_WORDS
        ),
    ),
)


# Domain mixing APPLIED: deterministic weighted resampling that turns
# mix_domain_weights' uniform-target weights into the actual resampled
# corpus. Per-doc acceptance probability p = min(1, total / (n_sources *
# tokens_src)) — i.e. the source's mix_weight — realized WITHOUT floats or
# rand(): a doc is kept iff u < p * 2^32 where u is the first 8 md5 hex
# chars of its doc_id as a uint32. Cross-multiplied exactly,
#     u * tokens_src * n_sources  <  2^32 * total_tokens
# (p >= 1 sources keep every doc: RHS >= 2^32 * tokens_src * n_sources
# > u * tokens_src * n_sources for any u < 2^32). The comparison runs in
# 128-bit-exact arithmetic — DECIMAL(38,0) on Spark, HUGEINT on DuckDB —
# so it is bit-identical across engines, retries, and cluster sizes, with
# headroom to ~1e25 corpus tokens (u*tokens*n_sources <= 4.3e9 * 1e25 *
# 1e3 < 1e38). Scale shape: ONE partial-agg groupBy to |sources| rows,
# broadcast back onto the doc stream (never shuffled on the join key);
# the filter is scan-side per doc.
_RESAMPLE_SQL = """
WITH tok AS (
    SELECT doc_id, source,
           CAST({size_fn}({words_expr}) AS BIGINT) AS n_tokens,
           CAST({BUCKET8} AS BIGINT) AS u
    FROM documents
),
agg AS (
    SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tokens
    FROM tok GROUP BY source
),
tot AS (
    SELECT CAST(SUM(tokens) AS BIGINT) AS total,
           CAST(COUNT(*) AS BIGINT) AS n_sources
    FROM agg
)
SELECT t.doc_id, t.source, t.n_tokens
FROM tok t JOIN agg a ON t.source = a.source CROSS JOIN tot
WHERE CAST(t.u AS {BIGT}) * CAST(a.tokens AS {BIGT})
          * CAST(tot.n_sources AS {BIGT})
      < CAST(4294967296 AS {BIGT}) * CAST(tot.total AS {BIGT})
ORDER BY doc_id
"""
# first 8 md5 hex chars of the doc_id -> uint32, same value on both engines
_BUCKET8_SPARK = "conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
_BUCKET8_DUCK = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
_register(
    "mix_resample_corpus",
    _sql_query(
        _RESAMPLE_SQL.replace("{size_fn}", "size")
        .replace("{words_expr}", _SPARK_WORDS)
        .replace("{BUCKET8}", _BUCKET8_SPARK)
        .replace("{BIGT}", "DECIMAL(38,0)"),
        ("documents",),
        "domain mixing applied: deterministic hash-Bernoulli resampling to "
        "the uniform target share (exact 128-bit cross-multiply, no rand)",
        oracle=_RESAMPLE_SQL.replace("{size_fn}", "len")
        .replace("{words_expr}", _DUCK_WORDS)
        .replace("{BUCKET8}", _BUCKET8_DUCK)
        .replace("{BIGT}", "HUGEINT"),
    ),
)


# End-to-end corpus assembly: the whole training-data tail as ONE declarative
# plan — exact dedup (first-wins, md5 over joined NORMALIZED tokens, the
# identical fingerprint as dedup_exact_fingerprint) → token-count quality
# gate (pipeline-specific n_tokens >= 10 floor) → deterministic stratified
# sample (same hash buckets + lang quotas as sample_stratified_deterministic
# — keep the CASE in sync) → context-window packing (same exclusive-cumsum
# window + 512 budget as _PACK_SQL — keep in sync). The tokenization runs
# ONCE and feeds both the fingerprint and the token count; Catalyst
# pipelines the filters into the scan and the only shuffles are the dedup
# window and the per-lang packing window.
_PIPE_SQL = """
WITH toks AS (
    SELECT doc_id, lang, source, {words_expr} AS words FROM documents
),
dedup AS (
    SELECT doc_id, lang, source, words FROM (
        SELECT doc_id, lang, source, words,
               ROW_NUMBER() OVER (PARTITION BY md5({JOIN})
                                  ORDER BY doc_id) AS rn
        FROM toks
    ) d WHERE rn = 1
),
quality AS (
    SELECT doc_id, lang, source, n_tokens FROM (
        SELECT doc_id, lang, source,
               CAST({size_fn}(words) AS BIGINT) AS n_tokens
        FROM dedup
    ) q WHERE n_tokens >= 10
),
sampled AS (
    SELECT doc_id, lang, source, n_tokens FROM (
        SELECT doc_id, lang, source, n_tokens,
               CAST({BUCKET} AS INTEGER) AS bucket
        FROM quality
    ) h
    WHERE bucket < CASE lang
        WHEN 'en' THEN 128 WHEN 'de' THEN 64 WHEN 'fr' THEN 64 ELSE 26 END
),
packed AS (
    SELECT doc_id, lang, source, n_tokens,
           COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS tokens_before
    FROM sampled
)
SELECT doc_id, lang, source, n_tokens,
       CAST(FLOOR(tokens_before / 512.0) AS BIGINT) AS pack_bin
FROM packed
ORDER BY lang, doc_id
"""
_register(
    "corpus_pipeline_e2e",
    _sql_query(
        _PIPE_SQL.replace("{size_fn}", "size")
        .replace("{words_expr}", _SPARK_WORDS)
        .replace("{JOIN}", "array_join(words, ' ')")
        .replace("{BUCKET}", _BUCKET_SPARK),
        ("documents",),
        "end-to-end corpus assembly: exact dedup -> quality gate -> "
        "deterministic sample -> context-window packing, one Catalyst plan",
        oracle=_PIPE_SQL.replace("{size_fn}", "len")
        .replace("{words_expr}", _DUCK_WORDS)
        .replace("{JOIN}", "list_aggregate(words, 'string_agg', ' ')")
        .replace("{BUCKET}", _BUCKET_DUCK),
    ),
)


# =============================================================================
# E. Graph-shaped pipeline operators: cluster resolution, quality propagation,
#    incremental frontier maintenance
# =============================================================================

# Near-dup CLUSTER RESOLUTION: LSH candidate pairs are only half the dedup
# story — a training pipeline must map every document to ONE canonical
# representative even when similarity is transitive (A~B, B~C but A!~C).
# That is connected components over the candidate graph. Spark side runs
# min-label propagation with POINTER JUMPING (l(v) <- l(l(v)) each round),
# which converges in O(log diameter) rounds instead of O(diameter) — the
# difference between 40 and ~6 shuffles on a 10^10-node chain-heavy graph.
# Each round is two hash joins + one aggregation on compact (id, label)
# pairs; bodies/signatures never enter the loop. The oracle computes the
# same fixpoint declaratively as a DuckDB recursive transitive closure.
_CC_MAX_ROUNDS = 50


def _cc_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .dedup import connected_components

    _mh_views(spark, sf_dir)
    # connected_components checkpoints the (symmetrized) edge set up front,
    # so the minhash candidate pipeline below executes exactly once
    edges = spark.sql(
        "WITH " + _CANDIDATES_CTE.format(cap=_LSH_BUCKET_CAP)
        + "SELECT doc_a, doc_b FROM candidates"
    )
    out = connected_components(
        edges, src="doc_a", dst="doc_b", max_rounds=_CC_MAX_ROUNDS
    ).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    ).orderBy("doc_id")
    return out


_CC_ORACLE_TAIL = """,
sym AS (
    SELECT doc_a AS src, doc_b AS dst FROM candidates
    UNION ALL
    SELECT doc_b, doc_a FROM candidates
),
reach(src, node) AS (
    SELECT src, src FROM (SELECT DISTINCT src FROM sym) n
    UNION
    SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.node
)
SELECT src AS doc_id, MIN(node) AS cluster_id
FROM reach GROUP BY src ORDER BY doc_id
"""

_register(
    "dedup_cluster_cc",
    QueryDef(
        build=_cc_build,
        oracle=_duck_mh_cte().replace("WITH toks", "WITH RECURSIVE toks", 1)
        + "," + _CANDIDATES_CTE.format(cap=_LSH_BUCKET_CAP) + _CC_ORACLE_TAIL,
        doc="connected-components cluster resolution over LSH candidate "
            "pairs: pointer-jumping min-label propagation, O(log d) rounds",
    ),
)


# Domain-quality propagation: PageRank over a host link graph. At corpus
# scale, per-host quality priors (spam scores, link authority) propagate
# along the host graph; this is the canonical iterative-DataFrame pattern —
# one join + one aggregation per round over compact (id, rank) pairs.
# INTEGER arithmetic end-to-end (ranks in 1e-12 units, floor division):
# integer sums are associative, so the result is bit-identical regardless
# of partitioning / aggregation order — float PageRank cannot promise that
# across engines. The oracle unrolls the same K rounds as nested CTEs.
_PR_SCALE = 10**12
_PR_ROUNDS = 5
_PR_MOD = 40

_PR_GRAPH_SQL = """
edges AS (
    SELECT DISTINCT doc_id % {mod} AS src,
           (doc_id * 7 + (doc_id % 9) * 11 + 3) % {mod} AS dst
    FROM documents
    WHERE doc_id % {mod} <> (doc_id * 7 + (doc_id % 9) * 11 + 3) % {mod}
),
nodes AS (
    SELECT src AS id FROM edges UNION SELECT dst FROM edges
),
cnt AS (SELECT COUNT(*) AS n FROM nodes),
outdeg AS (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY src)
"""


def _pr_cte_prefix() -> str:
    """The DuckDB CTE chain ending at ranks{_PR_ROUNDS} — shared by the
    host_pagerank oracle and the pagerank_fetch_plan composition."""
    parts = ["WITH " + _PR_GRAPH_SQL.format(mod=_PR_MOD)]
    parts.append(
        f", ranks0 AS (SELECT id, {_PR_SCALE} // (SELECT n FROM cnt) AS r FROM nodes)"
    )
    for k in range(_PR_ROUNDS):
        parts.append(f""",
ranks{k + 1} AS (
    SELECT n.id,
           (15 * {_PR_SCALE}) // (100 * c.n)
           + (85 * COALESCE(s.contrib, 0)) // 100 AS r
    FROM nodes n CROSS JOIN cnt c
    LEFT JOIN (
        SELECT e.dst AS id, SUM(r.r // d.deg) AS contrib
        FROM edges e
        JOIN ranks{k} r ON r.id = e.src
        JOIN outdeg d ON d.id = e.src
        GROUP BY e.dst
    ) s ON s.id = n.id
)""")
    return "".join(parts)


def _pr_oracle() -> str:
    # final BIGINT cast: DuckDB's SUM(BIGINT) is HUGEINT, which pandas
    # renders as float64 — without the cast the value hash diverges on
    # dtype even though every value is identical
    return (
        _pr_cte_prefix()
        + f"\nSELECT id AS host_id, CAST(r AS BIGINT) AS rank_units "
          f"FROM ranks{_PR_ROUNDS} ORDER BY host_id"
    )


_PR_HANDLES: dict[str, DataFrame] = {}


def _pr_ranks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final PageRank (id, r) pairs after _PR_ROUNDS Lloyd-style rounds —
    the iterative core shared by host_pagerank and pagerank_fetch_plan."""
    from pyspark.sql import functions as F

    # unpersist the previous invocation's handles (same convention as
    # _mh_views) so repeated bench/test builds don't accumulate cache blocks
    for h in _PR_HANDLES.values():
        h.unpersist()
    _PR_HANDLES.clear()
    _load(spark, sf_dir, "documents")
    base = spark.sql(
        "WITH " + _PR_GRAPH_SQL.format(mod=_PR_MOD)
        + "SELECT e.src, e.dst, d.deg FROM edges e JOIN outdeg d ON d.id = e.src"
    ).persist()
    nodes = (
        base.select(F.col("src").alias("id"))
        .union(base.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    _PR_HANDLES["base"] = base
    _PR_HANDLES["nodes"] = nodes
    cnt = nodes.agg(F.count("*").alias("n"))
    ranks = nodes.crossJoin(cnt).select(
        "id", (F.lit(_PR_SCALE) / F.col("n")).cast("bigint").alias("r"), "n"
    )
    for _ in range(_PR_ROUNDS):
        contrib = (
            base.join(ranks.select(F.col("id").alias("src"), "r"), "src")
            .groupBy(F.col("dst").alias("id"))
            # floor(r / deg): both positive, so floor == truncating DIV
            .agg(F.sum(F.floor(F.col("r") / F.col("deg"))).alias("contrib"))
        )
        ranks = (
            nodes.crossJoin(cnt)
            .join(contrib, "id", "left")
            .select(
                "id",
                (
                    F.floor(F.lit(15 * _PR_SCALE) / (F.lit(100) * F.col("n")))
                    + F.floor(
                        F.lit(85) * F.coalesce("contrib", F.lit(0)) / F.lit(100)
                    )
                ).cast("bigint").alias("r"),
                "n",
            )
        )
    return ranks.select("id", "r")


def _pr_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ranks = _pr_ranks_df(spark, sf_dir)
    return ranks.select(
        F.col("id").alias("host_id"), F.col("r").alias("rank_units")
    ).orderBy("host_id")


_register(
    "host_pagerank",
    QueryDef(
        build=_pr_build,
        oracle=_pr_oracle(),
        doc="host-graph PageRank, 5 rounds, exact integer arithmetic "
            "(1e-12 rank units) — iterative join+agg over (id, rank) pairs",
    ),
)


# TrustRank (Gyongyi et al. 2004 "Combating Web Spam with TrustRank"):
# personalized PageRank whose teleport mass goes ONLY to a trusted seed
# set — authority flows outward from hand-vetted hosts, so link-farm
# clusters with no trusted in-path decay to ~0 instead of accumulating
# rank. The crawl use: demote spam hosts in fetch-plan budget allocation
# (swap these units into pagerank_fetch_plan's rank_units). Trusted set
# here: id % 8 == 0 (deterministic stand-in for the vetted seed list).
# Same integer arithmetic and loop shape as host_pagerank — one join +
# one partial agg per round over compact (id, rank) pairs; the only
# changes are the seed-restricted init and teleport term. A node outside
# the trusted set's reach reports exactly 0 (tested).
_TR_TRUST_MOD = 8


def _tr_ranks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    for h in _PR_HANDLES.values():
        h.unpersist()
    _PR_HANDLES.clear()
    _load(spark, sf_dir, "documents")
    base = spark.sql(
        "WITH " + _PR_GRAPH_SQL.format(mod=_PR_MOD)
        + "SELECT e.src, e.dst, d.deg FROM edges e JOIN outdeg d ON d.id = e.src"
    ).persist()
    nodes = (
        base.select(F.col("src").alias("id"))
        .union(base.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    _PR_HANDLES["tr_base"] = base
    _PR_HANDLES["tr_nodes"] = nodes
    trusted = F.col("id") % _TR_TRUST_MOD == 0
    tcnt = nodes.filter(trusted).agg(F.count("*").alias("tn"))
    ranks = nodes.crossJoin(tcnt).select(
        "id",
        F.when(trusted, (F.lit(_PR_SCALE) / F.col("tn")).cast("bigint"))
        .otherwise(F.lit(0)).cast("bigint").alias("r"),
        "tn",
    )
    for _ in range(_PR_ROUNDS):
        contrib = (
            base.join(ranks.select(F.col("id").alias("src"), "r"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.floor(F.col("r") / F.col("deg"))).alias("contrib"))
        )
        ranks = (
            nodes.crossJoin(tcnt)
            .join(contrib, "id", "left")
            .select(
                "id",
                (
                    F.when(
                        trusted,
                        F.floor(
                            F.lit(15 * _PR_SCALE) / (F.lit(100) * F.col("tn"))
                        ),
                    ).otherwise(F.lit(0))
                    + F.floor(
                        F.lit(85) * F.coalesce("contrib", F.lit(0)) / F.lit(100)
                    )
                ).cast("bigint").alias("r"),
                "tn",
            )
        )
    return ranks.select("id", "r")


def _tr_cte_prefix() -> str:
    parts = ["WITH " + _PR_GRAPH_SQL.format(mod=_PR_MOD)]
    parts.append(
        f", tcnt AS (SELECT COUNT(*) AS tn FROM nodes "
        f"WHERE id % {_TR_TRUST_MOD} = 0)"
    )
    parts.append(
        f", tranks0 AS (SELECT id, CASE WHEN id % {_TR_TRUST_MOD} = 0 "
        f"THEN {_PR_SCALE} // (SELECT tn FROM tcnt) ELSE 0 END AS r "
        f"FROM nodes)"
    )
    for k in range(_PR_ROUNDS):
        parts.append(f""",
tranks{k + 1} AS (
    SELECT n.id,
           CASE WHEN n.id % {_TR_TRUST_MOD} = 0
                THEN (15 * {_PR_SCALE}) // (100 * t.tn) ELSE 0 END
           + (85 * COALESCE(s.contrib, 0)) // 100 AS r
    FROM nodes n CROSS JOIN tcnt t
    LEFT JOIN (
        SELECT e.dst AS id, SUM(r.r // d.deg) AS contrib
        FROM edges e
        JOIN tranks{k} r ON r.id = e.src
        JOIN outdeg d ON d.id = e.src
        GROUP BY e.dst
    ) s ON s.id = n.id
)""")
    return "".join(parts)


def _tr_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ranks = _tr_ranks_df(spark, sf_dir)
    return ranks.select(
        F.col("id").alias("host_id"),
        F.col("r").alias("trust_units"),
        (F.col("id") % _TR_TRUST_MOD == 0).alias("is_trusted"),
    ).orderBy("host_id")


_register(
    "host_trustrank",
    QueryDef(
        build=_tr_build,
        oracle=_tr_cte_prefix()
        + f"\nSELECT id AS host_id, CAST(r AS BIGINT) AS trust_units, "
          f"(id % {_TR_TRUST_MOD} = 0) AS is_trusted "
          f"FROM tranks{_PR_ROUNDS} ORDER BY host_id",
        doc="TrustRank: seed-personalized PageRank (teleport only to the "
            "trusted set) for spam demotion in crawl budgets — same "
            "integer loop as host_pagerank",
    ),
)


# Incremental frontier maintenance: MERGE-INTO semantics (the Iceberg upsert
# the north rule's frontier table needs) expressed engine-portably — a full
# outer join of the existing frontier against an incoming capture batch,
# classifying every URL as insert / update / keep and carrying the winning
# capture timestamp forward. Timestamps travel as fixed-width microsecond
# STRINGS (the sessionize idiom): zero-padded 'yyyy-MM-dd HH:mm:ss.SSSSSS'
# compares lexicographically exactly like the instant, and string rendering
# sidesteps every engine timestamp-type divergence. At scale both sides are
# bucketed by url, so the join is co-located; only (url, ts) pairs shuffle,
# never page bodies.
_MERGE_SQL = """
WITH existing AS (
    SELECT 'http://h' || CAST(user_id AS {STR}) || '.example.com/p'
           || CAST(event_id % 97 AS {STR}) AS url,
           MAX({TS_STR}) AS last_ts
    FROM events WHERE event_id % 3 <> 0
    GROUP BY 1
),
incoming AS (
    SELECT 'http://h' || CAST(user_id AS {STR}) || '.example.com/p'
           || CAST(event_id % 97 AS {STR}) AS url,
           MAX({TS_STR}) AS cap_ts
    FROM events WHERE event_id % 3 = 0
    GROUP BY 1
)
SELECT
    COALESCE(e.url, i.url) AS url,
    CASE WHEN e.url IS NULL THEN 'insert'
         WHEN i.url IS NULL THEN 'keep'
         WHEN i.cap_ts > e.last_ts THEN 'update'
         ELSE 'keep' END AS action,
    CASE WHEN e.url IS NULL THEN i.cap_ts
         WHEN i.url IS NULL THEN e.last_ts
         WHEN i.cap_ts > e.last_ts THEN i.cap_ts
         ELSE e.last_ts END AS latest_ts
FROM existing e FULL OUTER JOIN incoming i ON e.url = i.url
ORDER BY url
"""
_register(
    "frontier_merge_upsert",
    _sql_query(
        _MERGE_SQL.replace("{STR}", "STRING").replace(
            "{TS_STR}", "date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
        ),
        ("events",),
        "incremental frontier MERGE: full-outer upsert classification "
        "(insert/update/keep) with capture-timestamp carry-forward",
        oracle=_MERGE_SQL.replace("{STR}", "VARCHAR").replace(
            "{TS_STR}", "strftime(ts, '%Y-%m-%d %H:%M:%S.%f')"
        ),
    ),
)


# Deterministic global corpus shuffle -> training shard assignment. Training
# runs need the corpus in a reproducible pseudo-random order, split into a
# fixed number of shards with a stable position inside each — and `rand()`
# reproduces across neither engines, retries, nor cluster sizes. Order key =
# md5 of the doc id (a fixed pseudo-random permutation); shard = key-prefix
# bucket; position = rank within the shard along the key order. The only
# shuffle is one window sort per shard over compact (doc_id, key) pairs —
# bodies are re-joined by the consumer afterwards. At 100 TB, shards map to
# output files/partitions, so the window IS the final write ordering.
_SHARD_N = 8

_SHARD_SQL = """
WITH keyed AS (
    SELECT doc_id, lang,
           md5(CAST(doc_id AS {STR}) || ':shard-salt') AS okey
    FROM documents
)
SELECT doc_id, lang,
       CAST({BUCKET} AS INTEGER) % {N} AS shard,
       ROW_NUMBER() OVER (
           PARTITION BY CAST({BUCKET} AS INTEGER) % {N}
           ORDER BY okey, doc_id
       ) AS pos
FROM keyed
ORDER BY shard, pos
"""
_SHARD_BUCKET_SPARK = "conv(substring(okey, 1, 4), 16, 10)"
_SHARD_BUCKET_DUCK = "('0x' || substr(okey, 1, 4))::INTEGER"
_register(
    "shard_assign_deterministic",
    _sql_query(
        _SHARD_SQL.replace("{STR}", "STRING")
        .replace("{BUCKET}", _SHARD_BUCKET_SPARK)
        .replace("{N}", str(_SHARD_N)),
        ("documents",),
        "reproducible global shuffle: md5-order permutation -> shard + "
        "in-shard position (no rand(); one window per shard)",
        oracle=_SHARD_SQL.replace("{STR}", "VARCHAR")
        .replace("{BUCKET}", _SHARD_BUCKET_DUCK)
        .replace("{N}", str(_SHARD_N)),
    ),
)


# =============================================================================
# G. Round-3 widening: incremental-crawl diff, crawl-prioritization rollup,
#    cross-host mirror detection, corpus vocabulary stats.
# =============================================================================

# Incremental crawl: URL-level change classification between two corpus
# snapshots (frontier/pages.py snapshot_diff). 'changed' ∪ 'added' is next
# round's fetch list. Spark runs the real operator (map-side md5 collapse →
# full outer join on url — bodies never shuffle); the oracle restates it in
# DuckDB over the same synthesized snapshot pair: old = doc_id % 7 ≠ 0,
# new = doc_id % 5 ≠ 0 with every third doc's text modified.
def _snapdiff_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pages import snapshot_diff

    _load(spark, sf_dir, "documents")
    old = spark.sql(
        """
        SELECT 'http://' || source || '.example.com/d'
                   || CAST(doc_id AS STRING) || '.html' AS url, text
        FROM documents WHERE doc_id % 7 <> 0
        """
    )
    new = spark.sql(
        """
        SELECT 'http://' || source || '.example.com/d'
                   || CAST(doc_id AS STRING) || '.html' AS url,
               CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
        FROM documents WHERE doc_id % 5 <> 0
        """
    )
    return snapshot_diff(old, new).orderBy("url")


_SNAPDIFF_ORACLE = """
WITH snap_old AS (
    SELECT 'http://' || source || '.example.com/d'
               || CAST(doc_id AS VARCHAR) || '.html' AS url,
           md5(text) AS old_fp
    FROM documents WHERE doc_id % 7 <> 0
),
snap_new AS (
    SELECT 'http://' || source || '.example.com/d'
               || CAST(doc_id AS VARCHAR) || '.html' AS url,
           md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2'
                    ELSE text END) AS new_fp
    FROM documents WHERE doc_id % 5 <> 0
)
SELECT COALESCE(o.url, n.url) AS url,
       CASE WHEN o.url IS NULL THEN 'added'
            WHEN n.url IS NULL THEN 'removed'
            WHEN o.old_fp = n.new_fp THEN 'unchanged'
            ELSE 'changed' END AS change,
       o.old_fp AS old_fp, n.new_fp AS new_fp
FROM snap_old o FULL OUTER JOIN snap_new n ON o.url = n.url
ORDER BY url
"""

_register(
    "crawl_snapshot_diff",
    QueryDef(
        build=_snapdiff_build,
        oracle=_SNAPDIFF_ORACLE,
        doc="incremental-crawl snapshot diff: added/removed/changed/"
            "unchanged per url via map-side md5 + full outer join "
            "(bodies never shuffle)",
    ),
)


# Crawl prioritization from content signals: per-host corpus rollup —
# volume, exact mean chars/token (SUM/SUM IEEE division, never AVG), english
# share, and a deterministic crawl rank. One partial-agg groupBy on a short
# host string; the final rank is a window over |hosts| rows (tiny at any
# corpus scale — hosts, not pages).
_HOST_ROLLUP_SQL = """
WITH per_doc AS (
    SELECT source AS host, n_chars,
           CAST(GREATEST(CAST(1 AS BIGINT),
                CAST({SIZE}(words) AS BIGINT)) AS BIGINT) AS n_tokens,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
    FROM (SELECT source, lang, n_chars, {WORDS} AS words FROM documents) t
)
SELECT host,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE)
           AS chars_per_token,
       CAST(SUM(is_en) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS en_share,
       CAST(ROW_NUMBER() OVER (ORDER BY SUM(n_tokens) DESC, host) AS BIGINT)
           AS crawl_rank
FROM per_doc
GROUP BY host
ORDER BY host
"""

_register(
    "host_quality_rollup",
    _sql_query(
        _HOST_ROLLUP_SQL.replace("{WORDS}", _SPARK_WORDS)
        .replace("{SIZE}", "size"),
        ("documents",),
        "per-host content rollup for crawl prioritization: volume, exact "
        "mean chars/token, english share, deterministic crawl rank",
        oracle=_HOST_ROLLUP_SQL.replace("{WORDS}", _DUCK_WORDS)
        .replace("{SIZE}", "len"),
    ),
)


# Cross-host mirror detection (frontier/pages.py mirror_hosts): host pairs
# serving identical content — the inter-site duplication per-URL dedup never
# sees. Spark runs the real operator (distinct (host, fp) → capped
# collect_set per fp → JVM-side pair fan-out, NEVER a fp⋈fp self-join); the
# oracle states the naive self-join, which is equivalent below the cap. The
# corpus plants mirror blocks: every 4th doc's text is one of 7 shared
# boilerplate blocks, hosts are (source × doc_id%3).
def _mirror_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pages import mirror_hosts

    _load(spark, sf_dir, "documents")
    pages = spark.sql(
        """
        SELECT source || '-' || CAST(doc_id % 3 AS STRING) AS host,
               CASE WHEN doc_id % 4 = 0
                    THEN 'mirror-block-' || CAST(doc_id % 7 AS STRING)
                    ELSE text END AS text
        FROM documents
        """
    )
    return (
        mirror_hosts(pages, max_hosts_per_fp=256)
        .orderBy("host_a", "host_b")
    )


_MIRROR_ORACLE = """
WITH fps AS (
    SELECT DISTINCT source || '-' || CAST(doc_id % 3 AS VARCHAR) AS host,
           md5(CASE WHEN doc_id % 4 = 0
                    THEN 'mirror-block-' || CAST(doc_id % 7 AS VARCHAR)
                    ELSE text END) AS fp
    FROM documents
)
SELECT a.host AS host_a, b.host AS host_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.host < b.host
GROUP BY 1, 2
ORDER BY 1, 2
"""

_register(
    "mirror_detect_hosts",
    QueryDef(
        build=_mirror_build,
        oracle=_MIRROR_ORACLE,
        doc="cross-host mirror detection: shared-content host pairs via "
            "capped per-fingerprint host sets (no quadratic self-join)",
    ),
)


# Corpus vocabulary stats: per-language top-k tokens by document frequency
# (df), the stopword/vocab audit every corpus build runs. The one heavy
# shuffle is the map-side-combined distinct on (lang, doc, token); df
# partial-aggregates to |vocab| rows and the per-lang top-k windows over
# vocab, not pages. Ties break on token text for engine-identical output.
_TOKEN_DF_SQL = """
WITH tok AS (
    SELECT DISTINCT lang, doc_id, token
    FROM (SELECT lang, doc_id, {EXPLODE} AS token FROM documents) t
),
df AS (
    SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS doc_freq
    FROM tok GROUP BY lang, token
)
SELECT lang, token, doc_freq, rnk FROM (
    SELECT lang, token, doc_freq,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang
                ORDER BY doc_freq DESC, token) AS BIGINT) AS rnk
    FROM df
) r WHERE rnk <= 20
ORDER BY lang, rnk
"""

_register(
    "token_df_topk",
    _sql_query(
        _TOKEN_DF_SQL.replace("{EXPLODE}", f"explode({_SPARK_WORDS})"),
        ("documents",),
        "per-language top-k tokens by document frequency (vocabulary "
        "audit): one combined distinct shuffle, windows over vocab only",
        oracle=_TOKEN_DF_SQL.replace("{EXPLODE}", f"unnest({_DUCK_WORDS})"),
    ),
)


# Link-discovery e2e: how the frontier grows beyond sitemaps, end to end —
# outlink extraction (real HTML kernel) → in-degree per discovered URL →
# seen-set anti-join → salted per-host politeness top-k ranked by
# (n_refs desc, url). The urgency signal is the in-degree: URLs many pages
# point at get fetched first. Each page links to one fresh internal URL, one
# cross-host URL (colliding across pages → n_refs > 1), and one already-seen
# URL; every 6th internal target is also pre-seen. Scale shape: edges stay
# (src, dst) strings after the shuffle-free kernel; the anti-join and the
# in-degree groupBy both partial-agg; the top-k never sorts globally.
_DISCOVERY_BUDGET = 5


def _discovery_fetch_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .pages import extract_links
    from .schedule import fetch_plan

    _load(spark, sf_dir, "documents")
    pages = spark.sql(
        """
        SELECT 'http://' || source || '.example.com/dir/d'
                   || CAST(doc_id AS STRING) || '.html' AS url,
               encode('<html><body>'
                   || '<a href="new' || CAST(doc_id AS STRING)
                   || '.html">n</a>'
                   || '<a href="http://h' || CAST(doc_id % 11 AS STRING)
                   || '.example.net/x' || CAST(doc_id % 40 AS STRING)
                   || '.html">c</a>'
                   || '<a href="http://seen.example.com/s'
                   || CAST(doc_id % 17 AS STRING) || '.html">s</a>'
                   || '</body></html>', 'utf-8') AS html
        FROM documents
        """
    )
    seen = spark.sql(
        """
        SELECT 'http://' || source || '.example.com/dir/new'
                   || CAST(doc_id AS STRING) || '.html' AS seen_url
        FROM documents WHERE doc_id % 6 = 0
        UNION ALL
        SELECT DISTINCT 'http://seen.example.com/s'
                   || CAST(doc_id % 17 AS STRING) || '.html'
        FROM documents
        """
    )
    cand = (
        extract_links(pages)
        .join(seen, F.col("outlink") == F.col("seen_url"), "left_anti")
        .groupBy(F.col("outlink").alias("url"))
        .agg(F.count_distinct("url").cast("bigint").alias("n_refs"))
    )
    plan = fetch_plan(
        cand,
        budget_per_host=_DISCOVERY_BUDGET,
        url_col="url",
        salt_buckets=8,
        ordered=(F.col("n_refs").desc(), F.col("url")),
    )
    return plan.select(
        "canonical_host", "url", "fetch_rank", "n_refs"
    ).orderBy("canonical_host", "fetch_rank")


_DISCOVERY_FETCH_ORACLE = f"""
WITH edges AS (
    SELECT 'http://' || source || '.example.com/dir/d'
               || CAST(doc_id AS VARCHAR) || '.html' AS src,
           'http://' || source || '.example.com/dir/new'
               || CAST(doc_id AS VARCHAR) || '.html' AS dst
    FROM documents
    UNION ALL
    SELECT 'http://' || source || '.example.com/dir/d'
               || CAST(doc_id AS VARCHAR) || '.html',
           'http://h' || CAST(doc_id % 11 AS VARCHAR)
               || '.example.net/x' || CAST(doc_id % 40 AS VARCHAR) || '.html'
    FROM documents
    UNION ALL
    SELECT 'http://' || source || '.example.com/dir/d'
               || CAST(doc_id AS VARCHAR) || '.html',
           'http://seen.example.com/s' || CAST(doc_id % 17 AS VARCHAR)
               || '.html'
    FROM documents
),
seen AS (
    SELECT 'http://' || source || '.example.com/dir/new'
               || CAST(doc_id AS VARCHAR) || '.html' AS url
    FROM documents WHERE doc_id % 6 = 0
    UNION ALL
    SELECT DISTINCT 'http://seen.example.com/s'
               || CAST(doc_id % 17 AS VARCHAR) || '.html'
    FROM documents
),
cand AS (
    SELECT dst AS url, CAST(COUNT(DISTINCT src) AS BIGINT) AS n_refs
    FROM edges
    WHERE dst NOT IN (SELECT url FROM seen)
    GROUP BY dst
),
ranked AS (
    SELECT regexp_extract(url, 'http://([^/]+)/', 1) AS canonical_host,
           url, n_refs,
           ROW_NUMBER() OVER (
               PARTITION BY regexp_extract(url, 'http://([^/]+)/', 1)
               ORDER BY n_refs DESC, url
           ) AS fetch_rank
    FROM cand
)
SELECT canonical_host, url, CAST(fetch_rank AS INTEGER) AS fetch_rank,
       n_refs
FROM ranked
WHERE fetch_rank <= {_DISCOVERY_BUDGET}
ORDER BY canonical_host, fetch_rank
"""

_register(
    "discovery_fetch_plan",
    QueryDef(
        build=_discovery_fetch_build,
        oracle=_DISCOVERY_FETCH_ORACLE,
        doc=(
            "link-discovery e2e: outlink kernel -> in-degree -> seen-set "
            "anti-join -> salted per-host top-k by (n_refs desc, url)"
        ),
    ),
)


# Nofollow-aware link discovery: the same real kernel with crawl
# link-exclusion semantics ON — rel="nofollow" anchors dropped, pages with
# <meta name=robots … nofollow> contribute nothing. Every page carries one
# followable and one rel-nofollow link; every 5th page adds the meta tag.
# The oracle states the surviving edges closed-form: followable links from
# non-meta pages only.
def _outlinks_nofollow_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pages import extract_links

    _load(spark, sf_dir, "documents")
    pages = spark.sql(
        """
        SELECT 'http://' || source || '.example.com/d'
                   || CAST(doc_id AS STRING) || '.html' AS url,
               encode('<html><head>'
                   || CASE WHEN doc_id % 5 = 0
                        THEN '<meta name="robots" content="noindex,nofollow">'
                        ELSE '' END
                   || '</head><body>'
                   || '<a href="keep' || CAST(doc_id AS STRING)
                   || '.html">k</a>'
                   || '<a rel="nofollow" href="drop'
                   || CAST(doc_id AS STRING) || '.html">d</a>'
                   || '</body></html>', 'utf-8') AS html
        FROM documents
        """
    )
    return extract_links(pages, respect_nofollow=True).orderBy("url", "outlink")


_OUTLINKS_NOFOLLOW_ORACLE = """
SELECT 'http://' || source || '.example.com/d'
           || CAST(doc_id AS VARCHAR) || '.html' AS url,
       'http://' || source || '.example.com/keep'
           || CAST(doc_id AS VARCHAR) || '.html' AS outlink
FROM documents
WHERE doc_id % 5 <> 0
ORDER BY url, outlink
"""

_register(
    "html_outlinks_nofollow",
    QueryDef(
        build=_outlinks_nofollow_build,
        oracle=_OUTLINKS_NOFOLLOW_ORACLE,
        doc="nofollow-aware link discovery: rel + meta-robots exclusion "
            "in the real kernel vs closed-form surviving edges",
    ),
)


# Boilerplate removal (frontier/pages.py html_main_text): nav bars (pure
# anchor text -> link density 1.0) and short footers drop; the real
# paragraph survives iff it clears the 30-char block minimum — every 6th
# page gets a deliberately short paragraph to exercise the drop path. The
# Spark side runs the real block-segmentation kernel; the oracle states the
# surviving content closed-form.
def _main_text_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pages import extract_main_text

    _load(spark, sf_dir, "documents")
    pages = spark.sql(
        """
        SELECT 'http://' || source || '.example.com/d'
                   || CAST(doc_id AS STRING) || '.html' AS url,
               encode('<html><body>'
                   || '<nav><a href="/">Home</a><a href="/a">About</a>'
                   || '<a href="/c">Contact us today</a></nav>'
                   || '<p>' || CASE WHEN doc_id % 6 = 0 THEN 'tiny.'
                                    ELSE text END || '</p>'
                   || '<div class="footer">(c) 2025</div>'
                   || '</body></html>', 'utf-8') AS html
        FROM documents
        """
    )
    return (
        extract_main_text(pages)
        .select("url", "main_text")
        .orderBy("url")
    )


_MAIN_TEXT_ORACLE = """
SELECT 'http://' || source || '.example.com/d'
           || CAST(doc_id AS VARCHAR) || '.html' AS url,
       CASE WHEN doc_id % 6 = 0 THEN '' ELSE text END AS main_text
FROM documents
ORDER BY url
"""

_register(
    "pages_main_text",
    QueryDef(
        build=_main_text_build,
        oracle=_MAIN_TEXT_ORACLE,
        doc="boilerplate removal: block segmentation + link-density / "
            "min-length gates (real kernel) vs closed-form surviving text",
    ),
)


# Webtext pipeline e2e — the input_hint story end to end in ONE plan:
# raw pages (url, html) -> boilerplate-removed main text (real kernel) ->
# token quality gate -> exact-dup removal (first URL wins). Planted rows
# exercise every gate: every 9th page's paragraph is too short for the
# block minimum (main text comes back empty -> token gate drops it); every
# 10th page carries a FIXED shared paragraph (the dedup collapses the whole
# group to its min-url representative). The oracle re-derives the surviving
# set closed-form — it asserts the kernel (nav/footer stripped, paragraph
# preserved verbatim) AND the relational tail in one hash. Scale shape:
# kernel is shuffle-free; gates are scan-side filters; the one shuffle is
# the dedup window on 32-hex fingerprints.
_WEBTEXT_DUP_PARA = (
    "shared boilerplate paragraph that repeats verbatim across mirrored pages"
)

_WEBTEXT_PAGES_SQL = """
SELECT 'http://' || source || '.example.com/d'
           || CAST(doc_id AS STRING) || '.html' AS url,
       encode('<html><body>'
           || '<nav><a href="/">Home</a><a href="/a">About</a>'
           || '<a href="/c">Contact us today</a></nav>'
           || '<p>' || CASE WHEN doc_id % 9 = 0 THEN 'too few words here'
                            WHEN doc_id % 10 = 0 THEN '{DUP}'
                            ELSE text END || '</p>'
           || '<div class="footer">(c) 2025</div>'
           || '</body></html>', 'utf-8') AS html
FROM documents
"""

_WEBTEXT_TAIL_SQL = """
WITH scored AS (
    SELECT url, main_text,
           CAST({SIZE}({WORDS}) AS BIGINT) AS n_tokens,
           md5(main_text) AS fp
    FROM webtext_main
),
gated AS (
    SELECT url, n_tokens, fp FROM scored WHERE n_tokens BETWEEN 5 AND 1000
),
dedup AS (
    SELECT url, n_tokens, fp,
           ROW_NUMBER() OVER (PARTITION BY fp ORDER BY url) AS rn
    FROM gated
)
SELECT url, n_tokens, fp FROM dedup WHERE rn = 1
ORDER BY url
"""

_WEBTEXT_ORACLE_MAIN = """
webtext_main AS (
    SELECT 'http://' || source || '.example.com/d'
               || CAST(doc_id AS VARCHAR) || '.html' AS url,
           CASE WHEN doc_id % 9 = 0 THEN ''
                WHEN doc_id % 10 = 0 THEN '{DUP}'
                ELSE text END AS main_text
    FROM documents
)
"""


def _webtext_e2e_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pages import extract_main_text

    _load(spark, sf_dir, "documents")
    pages = spark.sql(
        _WEBTEXT_PAGES_SQL.replace("{DUP}", _WEBTEXT_DUP_PARA)
    )
    extract_main_text(pages).select("url", "main_text").createOrReplaceTempView(
        "webtext_main"
    )
    words = _SPARK_WORDS.replace("text", "main_text")
    return spark.sql(
        _WEBTEXT_TAIL_SQL.replace("{WORDS}", words).replace("{SIZE}", "size")
    )


def _webtext_e2e_oracle() -> str:
    words = _DUCK_WORDS.replace("text", "main_text")
    tail = _WEBTEXT_TAIL_SQL.replace("{WORDS}", words).replace("{SIZE}", "len")
    main = _WEBTEXT_ORACLE_MAIN.replace("{DUP}", _WEBTEXT_DUP_PARA)
    return tail.replace("WITH scored AS (", f"WITH {main.strip()},\nscored AS (")


_register(
    "webtext_pipeline_e2e",
    QueryDef(
        build=_webtext_e2e_build,
        oracle=_webtext_e2e_oracle(),
        doc="input-hint pipeline e2e: raw html -> boilerplate-removed main "
            "text (real kernel) -> token gate -> exact dedup, one plan; "
            "oracle asserts kernel output AND relational tail together",
    ),
)


# Paragraph-level dedup (the FineWeb-style pass): explode documents into
# ordered paragraphs, keep only the globally FIRST occurrence of each
# paragraph fingerprint (first = smallest (url, pos)), and reassemble each
# document from its surviving paragraphs in original order. Repeated
# boilerplate paragraphs vanish corpus-wide while unique prose survives.
# Scale shape: paragraphs shuffle once as (fp, url, pos) triples for the
# first-wins window (fp-partitioned, never all-pairs); reassembly is one
# groupBy(url) with an in-agg sort over each doc's own (tiny) paragraph
# list. Three paragraphs per doc: unique prose, a shared block (7 variants
# corpus-wide), a unique tail.
_PARA_DEDUP_SQL = """
WITH paras AS (
    SELECT url, pos, para FROM (
        SELECT 'http://' || source || '.example.com/d'
                   || CAST(doc_id AS {STR}) || '.html' AS url,
               {EXPLODE}
        FROM documents
    ) t
),
firsts AS (
    SELECT url, pos, para,
           ROW_NUMBER() OVER (
               PARTITION BY md5(para) ORDER BY url, pos
           ) AS occurrence
    FROM paras
)
SELECT url,
       {REASSEMBLE} AS deduped_text,
       CAST(COUNT(*) AS BIGINT) AS n_kept
FROM firsts
WHERE occurrence = 1
GROUP BY url
ORDER BY url
"""

_PARA_EXPLODE_SPARK = (
    "posexplode(array(text, 'shared paragraph block '"
    " || CAST(doc_id % 7 AS STRING), 'unique tail ' ||"
    " CAST(doc_id AS STRING))) AS (pos, para)"
)
_PARA_EXPLODE_DUCK = (
    "unnest([{'pos': 0, 'para': text},"
    " {'pos': 1, 'para': 'shared paragraph block ' || CAST(doc_id % 7 AS VARCHAR)},"
    " {'pos': 2, 'para': 'unique tail ' || CAST(doc_id AS VARCHAR)}],"
    " recursive := true)"
)
_PARA_REASSEMBLE_SPARK = (
    "array_join(transform(array_sort(collect_list(struct(pos, para))),"
    " s -> s.para), chr(10))"
)
_PARA_REASSEMBLE_DUCK = "string_agg(para, chr(10) ORDER BY pos)"

_register(
    "paragraph_dedup",
    _sql_query(
        _PARA_DEDUP_SQL.replace("{STR}", "STRING")
        .replace("{EXPLODE}", _PARA_EXPLODE_SPARK)
        .replace("{REASSEMBLE}", _PARA_REASSEMBLE_SPARK),
        ("documents",),
        "corpus-wide paragraph dedup with in-order document reassembly: "
        "global first-wins per paragraph fingerprint, one fp-partitioned "
        "window, never all-pairs",
        oracle=_PARA_DEDUP_SQL.replace("{STR}", "VARCHAR")
        .replace("{EXPLODE}", _PARA_EXPLODE_DUCK)
        .replace("{REASSEMBLE}", _PARA_REASSEMBLE_DUCK),
    ),
)


# URL template mining: collapse numeric path segments to a placeholder and
# count pages per (host, template) — how crawl systems discover the
# /product/{n}/view shape of a site to budget, dedup, and prioritize by
# page TYPE instead of by page. Pure codegen regexp projection + one
# partial-agg groupBy on two short strings.
_URL_TEMPLATE_SQL = """
WITH urls AS (
    SELECT source || '.example.com' AS host,
           CASE CAST(doc_id % 3 AS INTEGER)
                WHEN 0 THEN '/product/' || CAST(doc_id AS {STR}) || '/view'
                WHEN 1 THEN '/blog/2024/' || CAST(doc_id % 12 AS {STR})
                     || '/post-' || CAST(doc_id AS {STR})
                ELSE '/static/about.html'
           END AS path
    FROM documents
)
SELECT host,
       {DIGITS} AS template,
       CAST(COUNT(*) AS BIGINT) AS n_pages,
       CAST(COUNT(DISTINCT path) AS BIGINT) AS n_distinct_paths
FROM urls
GROUP BY host, template
ORDER BY host, template
"""

_register(
    "url_template_mining",
    _sql_query(
        _URL_TEMPLATE_SQL.replace("{STR}", "STRING")
        .replace("{DIGITS}", "regexp_replace(path, '[0-9]+', '{n}')"),
        ("documents",),
        "URL template mining: numeric segments -> {n} placeholder, pages "
        "per (host, template) — crawl budgeting by page TYPE",
        oracle=_URL_TEMPLATE_SQL.replace("{STR}", "VARCHAR")
        .replace("{DIGITS}", "regexp_replace(path, '[0-9]+', '{n}', 'g')"),
    ),
)


# Winnowing fingerprints (the MOSS scheme): md5-hash every 3-word shingle,
# slide a window of W hashes, keep each window's minimum, emit the distinct
# selected fingerprints per document. Guarantees any shared run of
# W+2 words produces at least one shared fingerprint — the standard
# local-fingerprinting scheme for contamination / clone detection.
#
# Spark plan shape: posexplode the shingle array, hash BEFORE the exchange
# (only (doc_id, pos, int64) rows ever shuffle — never shingle strings),
# then a sliding ROWS frame min partitioned by doc_id. The per-doc count
# window and the frame min share one sort; the final DISTINCT reuses the
# doc_id hash partitioning (no second exchange). An earlier formulation
# kept hashes in an array and took per-window minima with nested
# higher-order functions (transform(sequence(...), i -> array_min(slice(
# hs, i, W)))); Catalyst re-inlines the CTE-defined `hs` into every lambda
# reference and evaluates the nested HOFs interpreted, re-running the
# tokenize→shingle→md5 chain per window — measured 169 s vs ~1 s at sf0.01
# for this window-function plan. Same lesson as the minhash persisted
# views: never reference an expensive CTE column inside a lambda.
_WINNOW_W = 4

_WINNOW_SQL = """
WITH toks AS (
    SELECT doc_id, {WORDS} AS words FROM documents
),
sh AS (
    SELECT doc_id, {SHINGLES} AS shingles FROM toks
),
hashes AS (
    SELECT doc_id,
           {TRANSFORM}(shingles, s -> {H56}) AS hs
    FROM sh
),
selected AS (
    SELECT doc_id,
           CASE WHEN {SIZE}(hs) = 0 THEN {EMPTY}
                WHEN {SIZE}(hs) <= {W} THEN {WRAPMIN}
                ELSE {ARRAY_DISTINCT}({TRANSFORM}({SEQ},
                     i -> {WINMIN}))
           END AS fps
    FROM hashes
)
SELECT doc_id, fp
FROM ({EXPLODE_FPS})
ORDER BY doc_id, fp
"""

# Spark side: window-frame formulation (see block comment above). The frame
# from each position covers the next W hashes; positions past n - W are
# partial windows the MOSS scheme does not select — EXCEPT when the whole
# document has <= W shingles, where the single window is the whole doc
# (pos 0's frame, kept by greatest(n - W, 0)).
#
# Shingles are assembled with lead() over pos-exploded WORDS — deliberately
# NOT by posexplode-ing a shingle array: InferFiltersFromGenerate adds a
# `size(col) > 0` filter above the scan for every Generate, and predicate
# pushdown inlines the column's defining expression into that filter.  For
# a shingle array built with transform(sequence, i -> element_at(words,
# i)...), the inlined filter re-tokenizes the document PER ELEMENT_AT CALL
# — O(words²) regex splits per doc, measured 24 s vs 3.4 s at sf0.1.
# Exploding the flat words array keeps the inferred filter to one cheap
# tokenization, and the lead / frame-min / count windows all share the one
# (doc_id, pos) exchange and sort.
_WINNOW_SPARK_SQL = """
WITH toks AS (
    SELECT doc_id, {WORDS} AS words FROM documents
),
tok AS (
    SELECT doc_id, pos, w
    FROM toks LATERAL VIEW posexplode(words) t AS pos, w
),
sh AS (
    SELECT doc_id, pos,
           CAST(conv(substring(md5(concat_ws(' ', w,
                lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos),
                lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos))),
                1, 14), 16, 10) AS BIGINT) AS h,
           (lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL)
             AS has_full_shingle
    FROM tok
),
hashes AS (
    SELECT doc_id, pos, h FROM sh WHERE has_full_shingle
),
wins AS (
    SELECT doc_id, pos,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {W1} FOLLOWING) AS fp,
           count(*) OVER (PARTITION BY doc_id) AS n
    FROM hashes
)
SELECT DISTINCT doc_id, fp
FROM wins
WHERE pos <= greatest(n - {W}, 0)
ORDER BY doc_id, fp
"""


def _winnow_spark() -> str:
    return (
        _WINNOW_SPARK_SQL
        .replace("{WORDS}", _SPARK_WORDS)
        .replace("{W1}", str(_WINNOW_W - 1))
        .replace("{W}", str(_WINNOW_W))
    )


def _winnow_duck() -> str:
    return (
        _WINNOW_SQL
        .replace("{WORDS}", _DUCK_WORDS)
        .replace("{SHINGLES}", _DUCK_SHINGLES)
        .replace("{TRANSFORM}", "list_transform")
        .replace("{H56}", "('0x' || substr(md5(s), 1, 14))::BIGINT")
        .replace("{SIZE}", "len")
        .replace("{EMPTY}", "[]::BIGINT[]")
        .replace("{WRAPMIN}", "[list_min(hs)]")
        .replace("{ARRAY_DISTINCT}", "list_distinct")
        .replace("{SEQ}", "range(1, len(hs) - {W} + 2)")
        .replace("{WINMIN}", "list_min(hs[i:i + {W} - 1])")
        .replace("{EXPLODE_FPS}",
                 "SELECT doc_id, unnest(fps) AS fp FROM selected")
        .replace("{W}", str(_WINNOW_W))
    )


_register(
    "text_winnow_fingerprints",
    _sql_query(
        _winnow_spark(),
        ("documents",),
        "winnowing (MOSS) fingerprint selection: per-window minima over "
        "shingle hashes, distinct per doc — all codegen list ops, "
        "fingerprints never leave their row until the explode",
        oracle=_winnow_duck(),
    ),
)


# Per-host crawl-budget allocation: split a global fetch budget across
# hosts proportionally to their (token-volume) weight with the
# largest-remainder method — all integer arithmetic, so the allocation is
# bit-identical under any partitioning, and the budgets sum EXACTLY to the
# global budget (floor division + deterministic remainder distribution by
# (remainder desc, host)). The per-host numbers then feed fetch_plan as
# budget_per_host. Scale shape: one partial-agg groupBy to |hosts| rows;
# everything after operates on the tiny host table.
_ALLOC_BUDGET = 1000

_ALLOC_SQL = """
WITH w AS (
    SELECT source AS host,
           CAST(SUM(CAST({SIZE}({WORDS}) AS BIGINT)) AS BIGINT) AS wt
    FROM documents
    GROUP BY source
),
tot AS (
    SELECT CAST(SUM(wt) AS BIGINT) AS total_wt FROM w
),
base AS (
    SELECT host, wt,
           CAST(({B} * wt) {IDIV} total_wt AS BIGINT) AS floor_alloc,
           CAST(({B} * wt) % total_wt AS BIGINT) AS rem
    FROM w CROSS JOIN tot
),
leftover AS (
    SELECT CAST({B} - SUM(floor_alloc) AS BIGINT) AS n_extra FROM base
),
ranked AS (
    SELECT host, wt, floor_alloc,
           CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, host) AS BIGINT) AS rnk
    FROM base
)
SELECT host, wt AS weight,
       CAST(floor_alloc + CASE WHEN rnk <= (SELECT n_extra FROM leftover)
                               THEN 1 ELSE 0 END AS BIGINT) AS budget
FROM ranked
ORDER BY host
"""

_register(
    "host_budget_allocation",
    _sql_query(
        _ALLOC_SQL.replace("{WORDS}", _SPARK_WORDS)
        .replace("{SIZE}", "size").replace("{IDIV}", "DIV")
        .replace("{B}", str(_ALLOC_BUDGET)),
        ("documents",),
        "global fetch budget -> per-host integer allocation (largest-"
        "remainder): exact, partitioning-invariant, sums to the budget",
        oracle=_ALLOC_SQL.replace("{WORDS}", _DUCK_WORDS)
        .replace("{SIZE}", "len").replace("{IDIV}", "//")
        .replace("{B}", str(_ALLOC_BUDGET)),
    ),
)


# Sitemap coverage audit: relate what a host DECLARES (its sitemap URL
# set) to what it SERVES (the pages corpus) — per host, how many URLs are
# in both, declared-but-missing (zombies: sitemap rot), and
# served-but-undeclared (orphans: invisible to sitemap-driven crawling,
# reachable only via link discovery). One co-partitioned full outer join
# on url; per-host rollup partial-aggregates to |hosts| rows.
_COVERAGE_SQL = """
WITH sitemap_urls AS (
    SELECT source AS host,
           'http://' || source || '.example.com/p'
               || CAST(doc_id AS {STR}) AS url
    FROM documents WHERE doc_id % 3 <> 0
),
corpus_urls AS (
    SELECT source AS host,
           'http://' || source || '.example.com/p'
               || CAST(doc_id AS {STR}) AS url
    FROM documents WHERE doc_id % 4 <> 0
)
SELECT COALESCE(s.host, c.host) AS host,
       CAST(COUNT(CASE WHEN s.url IS NOT NULL AND c.url IS NOT NULL
                       THEN 1 END) AS BIGINT) AS n_ok,
       CAST(COUNT(CASE WHEN c.url IS NULL THEN 1 END) AS BIGINT) AS n_zombie,
       CAST(COUNT(CASE WHEN s.url IS NULL THEN 1 END) AS BIGINT) AS n_orphan
FROM sitemap_urls s FULL OUTER JOIN corpus_urls c ON s.url = c.url
GROUP BY COALESCE(s.host, c.host)
ORDER BY host
"""

_register(
    "sitemap_coverage_audit",
    _sql_query(
        _COVERAGE_SQL.replace("{STR}", "STRING"),
        ("documents",),
        "sitemap coverage audit: per-host ok / zombie (declared-but-"
        "missing) / orphan (served-but-undeclared) URL counts",
        oracle=_COVERAGE_SQL.replace("{STR}", "VARCHAR"),
    ),
)


# Robots cache refresh plan (RFC 9309 §2.4: cached robots.txt SHOULD be
# refreshed within 24h): per host, the age of the cached rules snapshot
# vs an as-of instant decides whether the next round must refetch
# robots.txt before fetching pages; stale hosts rank by how much pending
# work their staleness blocks (due page count desc). One groupBy to
# |hosts| rows; fixed-width microsecond strings for the engine-portable
# timestamp arithmetic (the sessionize idiom).
_ROBOTS_TTL_H = 24

_ROBOTS_REFRESH_SQL = """
WITH hosts AS (
    SELECT source AS host,
           CAST(MIN(doc_id % 40) AS BIGINT) AS age_h,
           CAST(COUNT(*) AS BIGINT) AS n_due_pages
    FROM documents
    GROUP BY source
)
SELECT host, age_h, n_due_pages,
       CASE WHEN age_h > {TTL} THEN 1 ELSE 0 END AS needs_refresh,
       CAST(CASE WHEN age_h > {TTL} THEN
            ROW_NUMBER() OVER (
                PARTITION BY CASE WHEN age_h > {TTL} THEN 1 ELSE 0 END
                ORDER BY n_due_pages DESC, host)
            ELSE 0 END AS BIGINT) AS refresh_rank
FROM hosts
ORDER BY host
"""

_register(
    "robots_refresh_plan",
    _sql_query(
        _ROBOTS_REFRESH_SQL.replace("{TTL}", str(_ROBOTS_TTL_H)),
        ("documents",),
        "RFC 9309 robots-cache expiry: stale hosts (age > 24h) ranked by "
        "blocked due-page volume for next-round robots refetch",
        oracle=_ROBOTS_REFRESH_SQL.replace("{TTL}", str(_ROBOTS_TTL_H)),
    ),
)


# Crawler-trap detection: a URL template whose PATH space grows much faster
# than its CONTENT space (calendar pages, faceted-search permutations,
# session-id echoes) wastes fetch budget at crawl scale. Over the mined
# (host, template) groups, compare distinct paths vs distinct content
# fingerprints; flag templates where paths >= 2x contents past a minimum
# fan-out. Synthetic content contract: /product/ pages carry boilerplate
# (doc_id % 3 variants — the planted trap), /blog/ pages carry the real
# document text, /static/ is a single page. One partial-agg groupBy on two
# short strings — the 10^10-row URL table reduces map-side; nothing but
# (host, template, counts) ever shuffles.
_TRAP_SQL = """
WITH urls AS (
    SELECT source || '.example.com' AS host,
           CASE CAST(doc_id % 3 AS INTEGER)
                WHEN 0 THEN '/product/' || CAST(doc_id AS {STR}) || '/view'
                WHEN 1 THEN '/blog/2024/' || CAST(doc_id % 12 AS {STR})
                     || '/post-' || CAST(doc_id AS {STR})
                ELSE '/static/about.html'
           END AS path,
           CASE WHEN doc_id % 3 = 0
                THEN md5('boilerplate-' || CAST(doc_id % 3 AS {STR}))
                ELSE md5(coalesce(text, '')) END AS fp
    FROM documents
),
t AS (
    SELECT host, {DIGITS} AS template,
           COUNT(*) AS n_pages,
           COUNT(DISTINCT path) AS n_paths,
           COUNT(DISTINCT fp) AS n_contents
    FROM urls
    GROUP BY host, {DIGITS}
)
SELECT host, template,
       CAST(n_pages AS BIGINT) AS n_pages,
       CAST(n_paths AS BIGINT) AS n_paths,
       CAST(n_contents AS BIGINT) AS n_contents,
       (n_paths > 4 AND n_paths >= 2 * n_contents) AS is_trap
FROM t
ORDER BY host, template
"""

_register(
    "crawl_trap_detect",
    _sql_query(
        _TRAP_SQL.replace("{STR}", "STRING")
        .replace("{DIGITS}", "regexp_replace(path, '[0-9]+', '{n}')"),
        ("documents",),
        "crawler-trap detection: URL templates whose path space outgrows "
        "their content space (distinct paths >= 2x distinct fingerprints)",
        oracle=_TRAP_SQL.replace("{STR}", "VARCHAR")
        .replace("{DIGITS}", "regexp_replace(path, '[0-9]+', '{n}', 'g')"),
    ),
)


# Inverted-index postings build (search-engine / retrieval shape): token →
# document frequency + the first-K doc ids as the postings head. The scale
# plan: per-doc-distinct tokens reduce map-side; the postings head is a
# rank-in-partition filter that Spark 3.5+ evaluates with a map-side
# WindowGroupLimit (each task forwards at most K rows per token — a
# stopword's millions of postings never congregate before the cap), while
# df comes from a partial-agg count; both sides then meet on the token
# partitioning. Postings render as a comma string so the value hash is
# engine-portable (list cells round-trip differently through pandas).
_POSTINGS_K = 16

_POSTINGS_SPARK_SQL = """
WITH words AS (
    SELECT doc_id, explode(array_distinct({WORDS})) AS token FROM documents
),
ranked AS (
    SELECT token, doc_id,
           row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
    FROM words
),
heads AS (
    SELECT token,
           array_join(transform(sort_array(collect_list(doc_id)),
                                x -> CAST(x AS STRING)), ',') AS postings_head
    FROM ranked WHERE rn <= {K}
    GROUP BY token
),
dfs AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM words GROUP BY token
)
SELECT d.token, d.df, h.postings_head
FROM dfs d JOIN heads h ON d.token = h.token
ORDER BY d.token
"""

_POSTINGS_DUCK_SQL = """
WITH words AS (
    SELECT DISTINCT doc_id, unnest({WORDS}) AS token FROM documents
)
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS df,
       array_to_string((list(doc_id ORDER BY doc_id))[1:{K}], ',')
         AS postings_head
FROM words
GROUP BY token
ORDER BY token
"""

_register(
    "index_postings",
    _sql_query(
        _POSTINGS_SPARK_SQL.replace("{WORDS}", _SPARK_WORDS)
        .replace("{K}", str(_POSTINGS_K)),
        ("documents",),
        "inverted-index postings: token -> df + first-K doc-id head; "
        "map-side WindowGroupLimit caps per-token rows before the exchange",
        oracle=_POSTINGS_DUCK_SQL.replace("{WORDS}", _DUCK_WORDS)
        .replace("{K}", str(_POSTINGS_K)),
    ),
)


# Feed autodiscovery: RSS/Atom <link rel=alternate> elements in page HTML —
# sitemap discovery's sibling channel (the reference PARSES the feed
# formats, usp/parser.py RSS/Atom classes; autodiscovery is how a crawler
# finds those feed documents from HTML). Real HTMLParser kernel
# (frontier.pages.html_feed_links): rel token lists, type parameters,
# <base href> resolution, stylesheet/text-html decoys rejected,
# first-occurrence dedup — vs a closed-form expected feed list. Same
# shuffle-free Arrow shape as link discovery.
def _feed_autodiscovery_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pages import extract_feed_links

    _load(spark, sf_dir, "documents")
    pages = spark.sql(
        """
        SELECT url, encode(page_html, 'utf-8') AS html FROM (
          SELECT 'http://' || source || '.example.com/dir/p'
                   || CAST(doc_id AS STRING) || '.html' AS url,
            CASE CAST(doc_id % 3 AS INTEGER)
              WHEN 0 THEN '<html><head><base href="/sub/">'
                || '<link rel="alternate" type="application/rss+xml" href="/feed.xml">'
                || '<link rel="alternate" type="application/atom+xml" href="feed.atom"/>'
                || '</head><body>x</body></html>'
              WHEN 1 THEN '<html><head>'
                || '<link rel="alternate stylesheet" type="application/atom+xml" href="http://feeds.example.org/a'
                || CAST(doc_id AS STRING) || '.xml"></head></html>'
              ELSE '<html><head><link rel="stylesheet" href="s.css">'
                || '<link rel="alternate" type="text/html" href="x.html">'
                || '</head><body><a href="y.html">y</a></body></html>'
            END AS page_html
          FROM documents)
        """
    )
    return extract_feed_links(pages).orderBy("url", "feed_url")


_FEED_AUTODISCOVERY_ORACLE = """
WITH base AS (
    SELECT doc_id, source,
           'http://' || source || '.example.com/dir/p'
             || CAST(doc_id AS VARCHAR) || '.html' AS url
    FROM documents
)
SELECT url,
       'http://' || source || '.example.com/feed.xml' AS feed_url,
       'rss' AS feed_kind
FROM base WHERE doc_id % 3 = 0
UNION ALL
SELECT url,
       'http://' || source || '.example.com/sub/feed.atom' AS feed_url,
       'atom' AS feed_kind
FROM base WHERE doc_id % 3 = 0
UNION ALL
SELECT url,
       'http://feeds.example.org/a' || CAST(doc_id AS VARCHAR) || '.xml'
         AS feed_url,
       'atom' AS feed_kind
FROM base WHERE doc_id % 3 = 1
ORDER BY url, feed_url
"""

_register(
    "feed_autodiscovery",
    QueryDef(
        build=_feed_autodiscovery_build,
        oracle=_FEED_AUTODISCOVERY_ORACLE,
        doc=(
            "RSS/Atom autodiscovery from <link rel=alternate> elements: "
            "real HTMLParser kernel with base-href resolution and decoy "
            "rejection vs closed-form expected feeds"
        ),
    ),
)


# Conditional-refetch planning (RFC 9110 validators): at recrawl time a
# crawler that sends If-None-Match / If-Modified-Since turns every
# unchanged page into a ~200-byte 304 instead of a full body — at
# 10^10-URL scale this IS the recrawl bandwidth budget. Per URL: pick the
# validator (ETag wins when the previous capture recorded one, RFC 9110
# §13.1.2 precedence), render the exact request header, and predict the
# 304 + bytes saved from the known change state. Pure codegen column
# expressions over the scan; the only exchange is the presentation sort.
# Synth contract: etag = quoted md5(text) present when doc_id % 3 != 0;
# content unchanged when doc_id % 4 != 0; body bytes = strlen(text) + 26.
_COND_FETCH_SQL = """
WITH prev AS (
    SELECT doc_id,
           'http://host' || CAST(doc_id % 50 AS {STR})
             || '.example.com/doc/' || CAST(doc_id AS {STR}) AS url,
           CASE WHEN doc_id % 3 <> 0
                THEN '"' || md5(coalesce(text, '')) || '"' END AS etag,
           {TS} AS last_fetch_ts,
           {BYTELEN}(coalesce(text, '')) + 26 AS n_bytes,
           (doc_id % 4 <> 0) AS unchanged
    FROM documents
)
SELECT url,
       CASE WHEN etag IS NOT NULL THEN 'if-none-match'
            ELSE 'if-modified-since' END AS strategy,
       CASE WHEN etag IS NOT NULL THEN 'If-None-Match: ' || etag
            ELSE 'If-Modified-Since: ' || {HTTPDATE} END AS cond_header,
       unchanged AS predicted_304,
       CAST(CASE WHEN unchanged THEN n_bytes ELSE 0 END AS BIGINT)
         AS bytes_saved
FROM prev
ORDER BY url
"""

_register(
    "conditional_fetch_plan",
    _sql_query(
        _COND_FETCH_SQL.replace("{STR}", "STRING")
        .replace("{TS}", "timestampadd(SECOND, CAST(doc_id AS INT), "
                         "TIMESTAMP '2025-01-01 00:00:00')")
        .replace("{BYTELEN}", "octet_length")
        .replace("{HTTPDATE}",
                 "date_format(last_fetch_ts, 'EEE, dd MMM yyyy HH:mm:ss')"
                 " || ' GMT'"),
        ("documents",),
        "RFC 9110 conditional-refetch plan: ETag-over-Last-Modified "
        "validator choice, rendered request headers, predicted 304 "
        "bandwidth savings — pure codegen over the scan",
        oracle=_COND_FETCH_SQL.replace("{STR}", "VARCHAR")
        .replace("{TS}", "TIMESTAMP '2025-01-01 00:00:00' "
                         "+ INTERVAL 1 SECOND * doc_id")
        .replace("{BYTELEN}", "strlen")
        .replace("{HTTPDATE}",
                 "strftime(last_fetch_ts, '%a, %d %b %Y %H:%M:%S GMT')"),
    ),
)


# Charset sniff + decode (WHATWG precedence: BOM > Content-Type header >
# <meta charset> > utf-8 default) — the ingest step between a WARC record
# walk and every downstream text operator; a 10^10-page corpus is NOT all
# utf-8. Real kernel (frontier.pages.decode_html_bytes: BOM stripping,
# alias normalization, U+FFFD replacement, never raises) over payloads
# synthesized in four real encodings; the oracle re-derives charset,
# sniff source, and the decoded text in closed form. Shuffle-free Arrow
# mapInPandas, pass-through columns.
def _charset_decode_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pages import decode_pages
    from .synth import synth_charset_payloads

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents")
    pages = synth_charset_payloads(docs)
    return (
        decode_pages(pages, html_col="payload", ctype_col="content_type")
        .select("doc_id", "charset", "charset_source", "text")
        .orderBy("doc_id")
    )


_CHARSET_DECODE_ORACLE = """
SELECT doc_id,
       (['utf-8','utf-16-le','iso-8859-1','windows-1252'])[doc_id % 4 + 1]
         AS charset,
       (['bom','bom','header','meta'])[doc_id % 4 + 1] AS charset_source,
       CASE CAST(doc_id % 4 AS INTEGER)
            WHEN 0 THEN '<html><body>é ' || coalesce(text, '')
            WHEN 1 THEN '<html>é ' || coalesce(text, '')
            WHEN 2 THEN '<html><body>é café ' || coalesce(text, '')
            ELSE '<meta charset=Windows-1252><body>€ ' || coalesce(text, '')
       END AS text
FROM documents
ORDER BY doc_id
"""

_register(
    "charset_decode",
    QueryDef(
        build=_charset_decode_build,
        oracle=_CHARSET_DECODE_ORACLE,
        doc=(
            "charset sniff (BOM > header > meta > default) + decode over "
            "four real encodings vs closed-form expected text"
        ),
    ),
)


# Gopher-rules quality gating (Rae et al. 2021, the published web-corpus
# filter set): per-document boolean gates — word count, mean word length,
# symbol-to-word ratio, bullet/ellipsis line fractions, alphabetic-word
# fraction, stopword presence — and their conjunction. All thresholds are
# INTEGER cross-multiplications (3*n <= sum_len, 5*alpha >= 4*n, ...) so
# the gate bits are bit-identical across engines and partitionings: no
# float division anywhere. Pure codegen over the scan; zero shuffles
# beyond the presentation sort. This is the standard pre-dedup gate of a
# webtext training pipeline (feeds webtext_pipeline_e2e's quality stage).
_GOPHER_STOPWORDS = "'the','be','to','of','and','that','have','with'"

_GOPHER_SQL = """
WITH toks AS (
    SELECT doc_id, {WORDS} AS words, text FROM documents
),
m AS (
    SELECT doc_id,
           CAST({SIZE}(words) AS BIGINT) AS n_words,
           CAST({SUMLEN} AS BIGINT) AS sum_word_len,
           CAST({SIZE}({FILTER}(words, x -> {ALPHA})) AS BIGINT)
             AS n_alpha_words,
           CAST({SIZE}({FILTER}(words, x -> {STOPIN})) AS BIGINT)
             AS n_stopword_hits,
           CAST(length(text) - length(replace(text, '#', ''))
                + (length(text) - length(replace(text, '...', ''))) / 3
                AS BIGINT) AS n_symbols,
           CAST({SIZE}({LINES}) AS BIGINT) AS n_lines,
           CAST({SIZE}({FILTER}({LINES}, x -> x LIKE '-%' OR x LIKE '*%'))
                AS BIGINT) AS n_bullet_lines,
           CAST({SIZE}({FILTER}({LINES}, x -> x LIKE '%...'))
                AS BIGINT) AS n_ellipsis_lines
    FROM toks
)
SELECT doc_id, n_words,
       (n_words BETWEEN 50 AND 100000) AS pass_word_count,
       (3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words)
         AS pass_mean_word_len,
       (10 * n_symbols <= n_words) AS pass_symbol_ratio,
       (10 * n_bullet_lines <= 9 * n_lines) AS pass_bullets,
       (10 * n_ellipsis_lines <= 3 * n_lines) AS pass_ellipsis,
       (5 * n_alpha_words >= 4 * n_words) AS pass_alpha_ratio,
       (n_stopword_hits >= 2) AS pass_stopwords,
       ((n_words BETWEEN 50 AND 100000)
        AND 3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words
        AND 10 * n_symbols <= n_words
        AND 10 * n_bullet_lines <= 9 * n_lines
        AND 10 * n_ellipsis_lines <= 3 * n_lines
        AND 5 * n_alpha_words >= 4 * n_words
        AND n_stopword_hits >= 2) AS gopher_pass
FROM m
ORDER BY doc_id
"""

_register(
    "text_gopher_gates",
    _sql_query(
        _GOPHER_SQL.replace("{WORDS}", _SPARK_WORDS)
        .replace("{SIZE}", "size")
        .replace("{SUMLEN}",
                 "aggregate(words, CAST(0 AS BIGINT), (a, x) -> a + length(x))")
        .replace("{FILTER}", "filter")
        .replace("{ALPHA}", "x rlike '[a-z]'")
        .replace("{STOPIN}",
                 f"array_contains(array({_GOPHER_STOPWORDS}), x)")
        .replace("{LINES}", "split(text, '\\n')"),
        ("documents",),
        "Gopher quality gates: integer-arithmetic rule bits "
        "(word count, mean word length, symbol/bullet/ellipsis ratios, "
        "alpha fraction, stopwords) + conjunction — pure codegen",
        oracle=_GOPHER_SQL.replace("{WORDS}", _DUCK_WORDS)
        .replace("{SIZE}", "len")
        .replace("{SUMLEN}",
                 "coalesce(list_sum(list_transform(words, x -> length(x))), 0)")
        .replace("{FILTER}", "list_filter")
        .replace("{ALPHA}", "regexp_matches(x, '[a-z]')")
        .replace("{STOPIN}",
                 f"list_contains([{_GOPHER_STOPWORDS}], x)")
        .replace("{LINES}", "string_split(text, chr(10))"),
    ),
)


# CCNet-style corpus bucketing (head/middle/tail): CCNet buckets documents
# by LM perplexity; the engine-portable stand-in is an integer-exact token
# RARITY score against the corpus's own per-language unigram counts —
# surprisal of token t ~ floor(N_lang / tf(t)), doc score = per-token mean
# (floor). All BIGINT sums, so the score is ORDER-INDEPENDENT (no float
# log whose last bit differs between libm builds) and the driver hash is
# exact. Plan: one (lang, token) partial-agg for the vocab, the vocab
# BROADCAST back onto the token stream (Zipf-bounded small side — the
# 10^10-token stream never shuffles on the join key), one per-doc
# partial-agg, then ntile(3) per lang over the doc-level rows only.
# Token-less docs have no perplexity and are absent, as in CCNet.
_RARITY_SQL = """
WITH words AS (
    SELECT doc_id, lang, {EXPLODE} AS token FROM documents
),
tf AS (
    SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM words GROUP BY lang, token
),
tot AS (
    SELECT lang, CAST(SUM(tf) AS BIGINT) AS total FROM tf GROUP BY lang
),
scored AS (
    SELECT {JOINHINT} w.doc_id, w.lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(t.total {DIV} f.tf) AS BIGINT) AS surprisal_sum
    FROM words w
    JOIN tf f ON f.lang = w.lang AND f.token = w.token
    JOIN tot t ON t.lang = w.lang
    GROUP BY w.doc_id, w.lang
),
ranked AS (
    SELECT doc_id, lang, n_tokens,
           surprisal_sum {DIV} n_tokens AS rarity,
           ntile(3) OVER (PARTITION BY lang
                          ORDER BY surprisal_sum {DIV} n_tokens, doc_id)
             AS tile
    FROM scored
)
SELECT doc_id, lang, n_tokens, CAST(rarity AS BIGINT) AS rarity,
       {BUCKET} AS bucket
FROM ranked
ORDER BY doc_id
"""

_register(
    "text_rarity_buckets",
    _sql_query(
        _RARITY_SQL.replace("{EXPLODE}", f"explode({_SPARK_WORDS})")
        .replace("{DIV}", "DIV")
        .replace("{JOINHINT}", "/*+ BROADCAST(f) */")
        .replace("{BUCKET}",
                 "element_at(array('head','middle','tail'), tile)"),
        ("documents",),
        "CCNet-style head/middle/tail bucketing by integer-exact token "
        "rarity vs the per-lang corpus unigram counts — vocab broadcast, "
        "token stream never shuffles on the join key",
        oracle=_RARITY_SQL.replace("{EXPLODE}", f"unnest({_DUCK_WORDS})")
        .replace("{DIV}", "//")
        .replace("{JOINHINT}", "")
        .replace("{BUCKET}", "(['head','middle','tail'])[tile]"),
    ),
)


# Bigram-LM held-out scoring (the CCNet/KenLM shape: TRAIN an n-gram LM on
# one split, SCORE every document with it, smoothing covering unseen
# grams). Train split = doc_id % 5 < 4 (deterministic, no sampling); the
# model is Laplace-style in INTEGER form: surprisal of bigram (w1,w2) ~
# floor((c(w1) + V) / (c(w1,w2) + 1)) with V = train unigram vocab size, so
# unseen bigrams get the max-surprisal (c12=0) branch of the same formula
# and every score is an order-independent BIGINT sum (no float log whose
# last ulp differs between libm builds — same rationale as
# text_rarity_buckets above). Bigrams are built with ONE lead() over
# pos-exploded words (not a gram array — see the winnowing block comment
# on InferFiltersFromGenerate re-evaluation). Scale shape: the bigram
# count table is Zipf-long-tailed and NOT broadcastable at 10^10 tokens —
# the b⋈train_big join legitimately shuffles, but on (w1, w2) string pairs
# that a production run would pre-hash to 8-byte ints (dup-span's trick);
# the CONTEXT table (unigram counts) and the scalar vocab count broadcast.
# Docs with < 2 tokens have no bigrams and are absent, as in CCNet.
_BIGRAM_LM_SQL = """
WITH toks AS (
    SELECT doc_id, {WORDS} AS words FROM documents
),
tok AS (
    SELECT doc_id, pos, w FROM {TOKSRC}
),
bigrams AS (
    SELECT doc_id, w1, w2 FROM (
        SELECT doc_id, w AS w1,
               lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM tok
    ) b WHERE w2 IS NOT NULL
),
train_big AS (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
    FROM bigrams WHERE doc_id % 5 < 4 GROUP BY w1, w2
),
train_ctx AS (
    SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM train_big GROUP BY w1
),
vocab AS (
    SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
    FROM tok WHERE doc_id % 5 < 4
),
scored AS (
    SELECT {JOINHINT} b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM((COALESCE(c.c1, 0) + v.v) {DIV} (COALESCE(g.c12, 0) + 1))
                AS BIGINT) AS surprisal_sum
    FROM bigrams b
    LEFT JOIN train_big g ON g.w1 = b.w1 AND g.w2 = b.w2
    LEFT JOIN train_ctx c ON c.w1 = b.w1
    CROSS JOIN vocab v
    GROUP BY b.doc_id
)
SELECT doc_id, n_bigrams,
       CAST(surprisal_sum {DIV} n_bigrams AS BIGINT) AS lm_score,
       CAST(doc_id % 5 < 4 AS {BOOL}) AS in_train
FROM scored
ORDER BY doc_id
"""

_register(
    "text_bigram_lm_score",
    _sql_query(
        _BIGRAM_LM_SQL
        .replace("{WORDS}", _SPARK_WORDS)
        .replace("{TOKSRC}", "toks LATERAL VIEW posexplode(words) t AS pos, w")
        .replace("{JOINHINT}", "/*+ BROADCAST(c) */")
        .replace("{DIV}", "DIV")
        .replace("{BOOL}", "BOOLEAN"),
        ("documents",),
        "bigram-LM held-out scoring (CCNet/KenLM shape): Laplace-smoothed "
        "integer surprisal from a train-split bigram model, context table "
        "broadcast, bigram join shuffles on compact keys",
        oracle=_BIGRAM_LM_SQL
        .replace("{WORDS}", _DUCK_WORDS)
        .replace(
            "{TOKSRC}",
            "(SELECT doc_id, i AS pos, words[i] AS w "
            "FROM toks, unnest(range(1, len(words) + 1)) AS t(i)) u",
        )
        .replace("{JOINHINT}", "")
        .replace("{DIV}", "//")
        .replace("{BOOL}", "BOOLEAN"),
    ),
)


# DSIR-style importance weights (Xie et al., "Data Selection for Language
# Models via Importance Resampling", NeurIPS 2023): score every doc by the
# ratio of a hashed bag-of-words model of the TARGET distribution (here the
# 'src0' slice stands in for the paper's Wikipedia/books target) to one of
# the raw SOURCE distribution (everything else). The paper's log-ratio sum
# log w(x) = sum_f c_f (log p_tgt[f] - log p_src[f]) is re-expressed
# log-free in the repo's integer-exact house style (the bigram-LM surprisal
# precedent): per occupied feature, the Laplace-smoothed probability RATIO
# in micro-units — 10^6 (c_tgt+1)(N_src+B) DIV ((c_src+1)(N_tgt+B)), B =
# 2^16 hash buckets — summed and averaged per doc with truncating division
# on both engines. A monotone per-feature proxy for the log weight with
# bit-identical results everywhere. Scale shape: ONE conditional-agg pass
# builds a (f, c_tgt, c_src) table of at most B = 65536 rows regardless of
# corpus size (broadcast back onto the feature stream — the map-side
# tokenize pipeline re-runs for the scored pass instead of materializing a
# token-level table); the only big shuffle is the per-doc feature
# aggregation on (doc_id). Integer
# bound: intermediates reach 10^6 * (c+1) * (N+B), safe below N ~ 3*10^6
# tokens per slice; beyond that, divide both slices' counts by a common
# factor first (the ratio is invariant) — resampling selection needs only
# the ORDER of scores, which the common rescale preserves.
_DSIR_SQL = """
WITH toks AS (
    SELECT doc_id, source, {WORDS} AS words FROM documents
),
feats AS (
    SELECT doc_id, source, {HASH} % 65536 AS f
    FROM {WSRC}
),
counts AS (
    SELECT f,
           CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                AS BIGINT) AS c_tgt,
           CAST(SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)
                AS BIGINT) AS c_src
    FROM feats GROUP BY f
),
tot AS (
    SELECT CAST(SUM(c_tgt) AS BIGINT) AS n_tgt,
           CAST(SUM(c_src) AS BIGINT) AS n_src
    FROM counts
),
scored AS (
    SELECT {JOINHINT} fe.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_feats,
           CAST(SUM(1000000 * (c.c_tgt + 1) * (o.n_src + 65536)
                    {DIV} ((c.c_src + 1) * (o.n_tgt + 65536)))
                AS BIGINT) AS ratio_sum
    FROM feats fe
    JOIN counts c ON c.f = fe.f
    CROSS JOIN tot o
    GROUP BY fe.doc_id
)
SELECT sc.doc_id, sc.n_feats,
       CAST(sc.ratio_sum {DIV} sc.n_feats AS BIGINT) AS dsir_score,
       CAST(d.source = 'src0' AS {BOOL}) AS is_target
FROM scored sc JOIN documents d ON d.doc_id = sc.doc_id
ORDER BY sc.doc_id
"""

_register(
    "dsir_importance_weights",
    _sql_query(
        _DSIR_SQL
        .replace("{WORDS}", _SPARK_WORDS)
        .replace("{WSRC}",
                 "toks LATERAL VIEW explode(words) t AS w")
        .replace("{HASH}",
                 "CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT)")
        .replace("{JOINHINT}", "/*+ BROADCAST(c, o) */")
        .replace("{DIV}", "DIV")
        .replace("{BOOL}", "BOOLEAN"),
        ("documents",),
        "DSIR importance weights: hashed-unigram target/source probability "
        "ratio per doc in integer micro-units (log-free, Laplace-smoothed); "
        "ONE conditional-agg pass builds the <=2^16-row count table, "
        "broadcast back onto the feature stream",
        oracle=_DSIR_SQL
        .replace("{WORDS}", _DUCK_WORDS)
        .replace("{WSRC}",
                 "(SELECT doc_id, source, unnest(words) AS w FROM toks) x")
        .replace("{HASH}",
                 "CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT)")
        .replace("{JOINHINT}", "")
        .replace("{DIV}", "//")
        .replace("{BOOL}", "BOOLEAN"),
    ),
)


# Inbound anchor-text rollup: aggregate the labeled edge list per TARGET —
# inlink count, distinct anchor count, and the most common anchor (the
# web's own label for the page: the classic retrieval / title-synthesis
# signal). Spark runs the real HTMLParser anchor kernel over synthesized
# pages whose targets and labels are closed-form in doc_id; the oracle
# reconstructs the edge list directly and runs the IDENTICAL aggregation.
# Scale shape: one partial-agg groupBy on (target, anchor) — bounded by
# distinct labels, not edges — then rank/rollup windows over those tiny
# agg rows; a mega-inlink target (every page links the homepage) costs
# its distinct-anchor count, never its edge count, past the first agg.
_ANCHOR_ROLLUP_AGG = """
WITH agg AS (
    SELECT outlink, anchor, COUNT(*) AS cnt FROM {EDGES} GROUP BY outlink, anchor
),
tot AS (
    SELECT outlink, CAST(SUM(cnt) AS BIGINT) AS n_inlinks,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_anchors
    FROM agg GROUP BY outlink
),
best AS (
    SELECT outlink, anchor AS top_anchor,
           ROW_NUMBER() OVER (PARTITION BY outlink
                              ORDER BY cnt DESC, anchor) AS rn
    FROM agg
)
SELECT t.outlink AS target, t.n_inlinks, t.n_distinct_anchors, b.top_anchor
FROM tot t JOIN best b ON b.outlink = t.outlink AND b.rn = 1
ORDER BY target
"""


def _anchor_rollup_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pages import extract_anchors

    _load(spark, sf_dir, "documents")
    pages = spark.sql(
        """
        SELECT 'http://' || source || '.example.com/p'
                 || CAST(doc_id AS STRING) || '.html' AS url,
               encode('<html><body><a href="http://t.example.org/page'
                 || CAST(doc_id % 13 AS STRING) || '">label '
                 || CAST(doc_id % 3 AS STRING) || '</a></body></html>',
                 'utf-8') AS html
        FROM documents
        """
    )
    extract_anchors(pages).createOrReplaceTempView("anchor_edges")
    return spark.sql(_ANCHOR_ROLLUP_AGG.replace("{EDGES}", "anchor_edges"))


_ANCHOR_ROLLUP_ORACLE = _ANCHOR_ROLLUP_AGG.replace(
    "{EDGES}",
    """(
    SELECT 'http://t.example.org/page' || CAST(doc_id % 13 AS VARCHAR)
             AS outlink,
           'label ' || CAST(doc_id % 3 AS VARCHAR) AS anchor
    FROM documents
) e""",
)

_register(
    "anchor_text_rollup",
    QueryDef(
        build=_anchor_rollup_build,
        oracle=_ANCHOR_ROLLUP_ORACLE,
        doc=(
            "inbound anchor-text rollup per target: inlink count, distinct "
            "anchors, most-common anchor — real kernel edges, identical "
            "aggregation on both engines"
        ),
    ),
)


# Robots indexing opt-out compliance (the corpus-builder's obligation): a
# page leaves the training corpus when EITHER the X-Robots-Tag header or
# an in-document <meta name=robots|googlebot> carries noindex (or none,
# which implies it). Real HTMLParser meta scan (frontier.pages
# .noindex_flags) OR'd with the header column — shuffle-free Arrow kernel,
# pass-through columns; the oracle re-derives both opt-out channels in
# closed form. At 10^10 pages this gate is scan-side: excluded rows never
# reach dedup or packing.
def _noindex_filter_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pages import noindex_flags

    _load(spark, sf_dir, "documents")
    pages = spark.sql(
        """
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 0 THEN 'noindex, nofollow' END
                 AS x_robots,
               encode(CASE CAST(doc_id % 9 AS INTEGER)
                 WHEN 0 THEN '<html><head><meta name="robots" content="NOINDEX, follow"></head><body>x</body></html>'
                 WHEN 1 THEN '<html><head><meta name="googlebot" content="none"></head><body>x</body></html>'
                 WHEN 2 THEN '<html><head><meta name="robots" content="nofollow"></head><body>x</body></html>'
                 ELSE '<html><body>plain page</body></html>'
               END, 'utf-8') AS html
        FROM documents
        """
    )
    out = noindex_flags(pages, x_robots_col="x_robots")
    return out.select("doc_id", "noindex").orderBy("doc_id")


_NOINDEX_ORACLE = """
SELECT doc_id,
       (doc_id % 11 = 0 OR doc_id % 9 IN (0, 1)) AS noindex
FROM documents
ORDER BY doc_id
"""

_register(
    "noindex_filter",
    QueryDef(
        build=_noindex_filter_build,
        oracle=_NOINDEX_ORACLE,
        doc=(
            "robots indexing opt-out: meta robots/googlebot noindex|none "
            "OR X-Robots-Tag header — the compliance gate after ingest"
        ),
    ),
)


# =============================================================================
# J. Round-3 tail 2: classifier scoring, duplicate-span signal, k-means
# =============================================================================

# fastText/CCNet-style hashed-feature linear quality classifier: each token
# is feature-hashed into one of 4096 buckets (md5 56-bit -> % 4096), the
# bucket's weight is a deterministic integer in [-1000, 1000] (derived from
# md5 of the bucket id — the stand-in for a learned weight table; the
# operator shape is the point: hash, bucket, weight-lookup, sum, sign), and
# the document score is the BIGINT weight sum — order-independent, so the
# driver hash is exact. Plan: tokens explode map-side, the two md5s are
# pure codegen per token, one partial-agg groupBy(doc_id) — only
# (doc_id, partial sums) ever shuffle. At 10^10 docs a REAL weight table
# (learned, not derived) would be a 4096-row broadcast join on bucket; the
# derived-weight form keeps even that join out of the plan.
_HASHCLS_SQL = """
WITH toks AS (
    SELECT doc_id, {WORDS} AS words FROM documents
),
tok AS (
    SELECT doc_id, {EXPLODE} AS w FROM toks
),
feat AS (
    SELECT doc_id,
           ({H56W} % 2001) - 1000 AS wgt
    FROM (SELECT doc_id,
                 'w:' || CAST({H56T} % 4096 AS {STR}) AS bucket
          FROM tok)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(wgt) AS BIGINT) AS score,
       CAST(CASE WHEN SUM(wgt) >= 0 THEN 1 ELSE 0 END AS INT) AS keep
FROM feat
GROUP BY doc_id
ORDER BY doc_id
"""

_SPARK_H56 = "CAST(conv(substr(md5({X}), 1, 14), 16, 10) AS BIGINT)"
_DUCK_H56 = "('0x' || substr(md5({X}), 1, 14))::BIGINT"

_register(
    "text_hashngram_classifier",
    _sql_query(
        _HASHCLS_SQL.replace("{EXPLODE}", "explode(words)")
        .replace("{WORDS}", _SPARK_WORDS)
        .replace("{H56W}", _SPARK_H56.replace("{X}", "bucket"))
        .replace("{H56T}", _SPARK_H56.replace("{X}", "w"))
        .replace("{STR}", "STRING"),
        ("documents",),
        "hashed-feature linear classifier score (fastText-style feature "
        "hashing, 4096 buckets, integer weights): hash+sum pure codegen, "
        "one partial-agg shuffle of (doc_id, sum)",
        oracle=_HASHCLS_SQL.replace("{EXPLODE}", "unnest(words)")
        .replace("{WORDS}", _DUCK_WORDS)
        .replace("{H56W}", _DUCK_H56.replace("{X}", "bucket"))
        .replace("{H56T}", _DUCK_H56.replace("{X}", "w"))
        .replace("{STR}", "VARCHAR"),
    ),
)


# Duplicate-span signal (the per-document scalar behind Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" exact
# substring dedup): the fraction of a document's 8-token grams whose hash
# occurs in >= 2 DISTINCT documents. A document with dup_permille near
# 1000 is (near-)entirely boilerplate shared with the rest of the corpus;
# the 50-token-span removal of the paper keys on exactly these gram-level
# matches. Spark plan: grams are built with lead() windows over
# pos-exploded words (one (doc_id, pos) exchange shared by all 7 leads —
# NOT a shingle array, see the winnowing block comment on
# InferFiltersFromGenerate re-evaluation), hashed to 56-bit ints before
# any exchange, duplicate grams found by a distinct + count >= 2 on the
# 8-byte hash, and re-joined to the gram stream on that same hash — at
# 10^10 docs every shuffle in the plan carries only (int64 hash) or
# (doc_id, int64) pairs, never gram text.
_DUPSPAN_SPARK_SQL = """
WITH toks AS (
    SELECT doc_id, {WORDS} AS words FROM documents
),
tok AS (
    SELECT doc_id, pos, w
    FROM toks LATERAL VIEW posexplode(words) t AS pos, w
),
g AS (
    SELECT doc_id,
           CAST(conv(substring(md5(concat_ws(' ', w,
                lead(w, 1) OVER win, lead(w, 2) OVER win,
                lead(w, 3) OVER win, lead(w, 4) OVER win,
                lead(w, 5) OVER win, lead(w, 6) OVER win,
                lead(w, 7) OVER win)), 1, 14), 16, 10) AS BIGINT) AS h,
           (lead(w, 7) OVER win IS NOT NULL) AS has_full_gram
    FROM tok
    WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
grams AS (
    SELECT doc_id, h FROM g WHERE has_full_gram
),
dup AS (
    SELECT h
    FROM (SELECT DISTINCT doc_id, h FROM grams) dh
    GROUP BY h
    HAVING COUNT(*) >= 2
)
SELECT gr.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_grams,
       CAST((1000 * SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END))
            DIV COUNT(*) AS BIGINT) AS dup_permille
FROM grams gr LEFT JOIN dup d ON d.h = gr.h
GROUP BY gr.doc_id
ORDER BY gr.doc_id
"""

_DUPSPAN_DUCK_SQL = """
WITH toks AS (
    SELECT doc_id, {WORDS} AS words FROM documents
),
g AS (
    SELECT doc_id, array_to_string(words[i:i+7], ' ') AS gram
    FROM toks, unnest(range(1, len(words) - 6)) AS t(i)
    WHERE len(words) >= 8
),
grams AS (
    SELECT doc_id, ('0x' || substr(md5(gram), 1, 14))::BIGINT AS h FROM g
),
dup AS (
    SELECT h
    FROM (SELECT DISTINCT doc_id, h FROM grams) dh
    GROUP BY h
    HAVING COUNT(*) >= 2
)
SELECT gr.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_grams,
       CAST((1000 * SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS dup_permille
FROM grams gr LEFT JOIN dup d ON d.h = gr.h
GROUP BY gr.doc_id
ORDER BY gr.doc_id
"""

_register(
    "text_dup_span_fraction",
    _sql_query(
        _DUPSPAN_SPARK_SQL.replace("{WORDS}", _SPARK_WORDS),
        ("documents",),
        "duplicate-span fraction per doc (Lee et al. exact-substring-dedup "
        "signal): 8-token gram hashes via lead() windows, cross-doc dup "
        "detection on 8-byte hashes only",
        oracle=_DUPSPAN_DUCK_SQL.replace("{WORDS}", _DUCK_WORDS),
    ),
)


# k-means refinement for the IVF coarse quantizer (2 unrolled Lloyd
# iterations, k = 8): ann_ivf_topk's centroid init is the first k vectors
# by vec_id (reproducible, documented as not-a-k-means); this operator IS
# the k-means step. Everything is integer-exact so both engines hash
# identically: embeddings quantize to BIGINT permille
# (floor(double(v) * 1000) — float->double is exact, floor is floor in
# both), distances are BIGINT sums of squared diffs (order-independent),
# centroid update is BIGINT truncating division (Spark DIV and DuckDB //
# both truncate toward zero, verified -7/2 -> -3 on each), argmin
# tie-breaks on cluster id. Plan: the dim-exploded vector table joins a
# k*dims centroid table (256 rows — broadcast on the Spark side), distances
# partial-agg on (vec_id, cluster) map-side; per iteration the only
# shuffles carry (vec_id, cluster, int64) triples. At 10^10 vectors the
# same plan holds: centroids stay broadcast-sized for any practical k,
# and Lloyd rounds are linear scans with map-side combine.
_KMEANS_SQL = """
WITH q AS (
    SELECT vec_id, {DIM} AS dim, CAST(floor(CAST({VAL} AS DOUBLE) * 1000)
           AS BIGINT) AS val
    FROM {QSRC}
),
c0 AS (
    SELECT vec_id AS cluster, dim, val AS cval FROM q WHERE vec_id < 8
),
d1 AS (
    SELECT {HINT0} q.vec_id, c.cluster,
           CAST(SUM((q.val - c.cval) * (q.val - c.cval)) AS BIGINT) AS d2
    FROM q JOIN c0 c ON c.dim = q.dim
    GROUP BY q.vec_id, c.cluster
),
a1 AS (
    SELECT vec_id, cluster
    FROM (SELECT vec_id, cluster,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY d2, cluster) AS rk
          FROM d1) r
    WHERE rk = 1
),
c1 AS (
    SELECT a.cluster, q.dim,
           CAST(SUM(q.val) {DIV} COUNT(*) AS BIGINT) AS cval
    FROM q JOIN a1 a ON a.vec_id = q.vec_id
    GROUP BY a.cluster, q.dim
),
d2s AS (
    SELECT {HINT1} q.vec_id, c.cluster,
           CAST(SUM((q.val - c.cval) * (q.val - c.cval)) AS BIGINT) AS d2
    FROM q JOIN c1 c ON c.dim = q.dim
    GROUP BY q.vec_id, c.cluster
),
a2 AS (
    SELECT vec_id, cluster, d2
    FROM (SELECT vec_id, cluster, d2,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY d2, cluster) AS rk
          FROM d2s) r
    WHERE rk = 1
)
SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, d2 AS dist2
FROM a2
ORDER BY vec_id
"""

_register(
    "embedding_kmeans_refine",
    _sql_query(
        _KMEANS_SQL.replace("{DIM}", "pos + 1")
        .replace("{VAL}", "v")
        .replace("{QSRC}",
                 "embeddings LATERAL VIEW posexplode(embedding) t AS pos, v")
        .replace("{DIV}", "DIV")
        .replace("{HINT0}", "/*+ BROADCAST(c) */")
        .replace("{HINT1}", "/*+ BROADCAST(c) */"),
        ("embeddings",),
        "k-means refinement of the IVF coarse quantizer (2 Lloyd "
        "iterations, k=8, integer-exact): broadcast centroid joins, "
        "map-side partial aggs, only (vec_id, cluster, int64) shuffles",
        oracle=_KMEANS_SQL.replace("{DIM}", "t.i")
        .replace("{VAL}", "embedding[t.i]")
        .replace("{QSRC}",
                 "embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)")
        .replace("{DIV}", "//")
        .replace("{HINT0}", "")
        .replace("{HINT1}", ""),
    ),
)


# BM25 "more-like-this" retrieval over the corpus's own inverted index:
# queries are the vocabularies of docs 0..4, scored against every other
# document — the standard dedup-adjacent retrieval op (near-dup triage,
# quality-neighborhood sampling, eval-set mining). Engine-portable
# numerics: idf is the RATIONAL Robertson form (N - df + .5)/(df + .5)
# WITHOUT the log — ln is the one libm call whose last bit differs across
# engines, and a monotone transform preserves BM25's per-term ordering;
# each per-term score is floored to integer micro-units BEFORE the
# per-(query, doc) sum, so the total is a BIGINT sum — order-independent
# under any partitioning, and the driver hash is exact. Plan: postings
# and doc lengths are one partial-agg each over the token explode; the
# 5-query side is broadcast-sized; top-k per query is a rank window over
# the (q_id, doc_id, score) agg rows (map-side WindowGroupLimit).
_BM25_SQL = """
WITH toks AS (
    SELECT doc_id, {WORDS} AS words FROM documents
),
tok AS (
    SELECT doc_id, {EXPLODE} AS term FROM toks
),
postings AS (
    SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok GROUP BY term, doc_id
),
dl AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dlen FROM tok GROUP BY doc_id
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dlen) AS DOUBLE) / COUNT(*) AS avgdl
    FROM dl
),
df AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY term
),
queries AS (
    SELECT DISTINCT doc_id AS q_id, term FROM tok WHERE doc_id < 5
),
scored AS (
    SELECT q.q_id, p.doc_id,
           CAST(SUM(CAST(floor(1000000.0
                * ((CAST(s.n_docs AS DOUBLE) - f.df + 0.5) / (f.df + 0.5))
                * (p.tf * 2.2)
                / (p.tf + 1.2 * (0.25 + 0.75 * d.dlen / s.avgdl)))
              AS BIGINT)) AS BIGINT) AS score
    FROM queries q
    JOIN postings p ON p.term = q.term
    JOIN df f ON f.term = q.term
    JOIN dl d ON d.doc_id = p.doc_id
    CROSS JOIN stats s
    WHERE p.doc_id <> q.q_id
    GROUP BY q.q_id, p.doc_id
),
ranked AS (
    SELECT q_id, doc_id, score,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY score DESC, doc_id) AS rk
    FROM scored
)
SELECT q_id, doc_id AS hit_id, score, rk
FROM ranked
WHERE rk <= 5
ORDER BY q_id, rk
"""

_register(
    "bm25_more_like_this",
    _sql_query(
        _BM25_SQL.replace("{EXPLODE}", "explode(words)")
        .replace("{WORDS}", _SPARK_WORDS),
        ("documents",),
        "BM25 more-like-this top-5 over the corpus's own inverted index "
        "(rational idf, micro-unit integer score sums — order-independent); "
        "postings/df/dl partial-aggs + broadcast query side + rank window",
        oracle=_BM25_SQL.replace("{EXPLODE}", "unnest(words)")
        .replace("{WORDS}", _DUCK_WORDS),
    ),
)


# WARC-to-trainset capstone — the north-rule story in ONE Catalyst plan:
# Common-Crawl-style WARC segments -> Content-Length-framed record walk
# (real parser, shuffle-free) -> HTTP 200 + text/html filter -> noindex
# compliance gate (X-Robots-Tag header OR meta robots, real HTMLParser
# scan) -> boilerplate-removed main text (real kernel; the %7 docs embed a
# "WARC/1.0" banner INSIDE the body, which both the record framing and the
# <30-char block gate must survive) -> token quality gate -> exact-dup
# removal (first URL wins). The oracle re-derives the surviving set in
# closed form from the synth contract (see synth_warc_segments): every
# stage's semantics land in one driver hash. Scale shape: both kernels are
# shuffle-free mapInPandas; status/type/noindex gates are scan-side
# filters; the ONE shuffle is the dedup window on 32-hex fingerprints.
_WARC_TRAINSET_ORACLE_MAIN = """
warc_main AS (
    SELECT 'http://host' || CAST(doc_id % 50 AS VARCHAR)
               || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
           CASE WHEN strlen(trim(coalesce(text, ''))) >= 30
                THEN coalesce(text, '') ELSE '' END AS main_text
    FROM documents
    WHERE doc_id % 13 <> 0  -- HTTP 404s never reach the corpus
      AND doc_id % 5 <> 0   -- text/plain responses are not html pages
      AND doc_id % 11 <> 0  -- X-Robots-Tag: noindex compliance gate
)
"""


def _warc_trainset_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .pages import extract_main_text, noindex_flags
    from .synth import synth_warc_segments
    from .warc import warc_records

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    recs = warc_records(synth_warc_segments(docs), responses_only=True)
    recs = recs.filter(
        (F.col("http_status") == 200) & (F.col("content_type") == "text/html")
    )
    recs = noindex_flags(recs, x_robots_col="x_robots").filter(
        ~F.col("noindex")
    )
    extract_main_text(recs).select("url", "main_text").createOrReplaceTempView(
        "warc_main"
    )
    words = _SPARK_WORDS.replace("text", "main_text")
    return spark.sql(
        _WEBTEXT_TAIL_SQL.replace("webtext_main", "warc_main")
        .replace("{WORDS}", words)
        .replace("{SIZE}", "size")
    )


def _warc_trainset_oracle() -> str:
    words = _DUCK_WORDS.replace("text", "main_text")
    tail = (
        _WEBTEXT_TAIL_SQL.replace("webtext_main", "warc_main")
        .replace("{WORDS}", words)
        .replace("{SIZE}", "len")
    )
    return tail.replace(
        "WITH scored AS (",
        f"WITH {_WARC_TRAINSET_ORACLE_MAIN.strip()},\nscored AS (",
    )


_register(
    "warc_trainset_e2e",
    QueryDef(
        build=_warc_trainset_build,
        oracle=_warc_trainset_oracle(),
        doc="WARC segments -> training corpus in ONE plan: record walk + "
            "status/type filter + noindex gate + main-text kernel + token "
            "gate + exact dedup; oracle closed-form from the synth contract",
    ),
)


# IVF ANN with k-means-refined centroids — the composition of
# embedding_kmeans_refine and the IVF probe: queries (vec_id < 10) probe
# their 2 nearest FINAL centroids, candidates are those clusters' members
# (from the final Lloyd assignment), and exact integer L2 re-ranking picks
# the top-5. Same integer-exact arithmetic as the kmeans operator, so the
# oracle is the identical SQL. Scale shape: the probe side reuses the
# broadcast centroid-distance table; the candidate join fans each query
# out to 2 clusters' members (the IVF recall/cost knob), never the full
# corpus; the exact re-rank joins candidates back to the dim-exploded
# vectors on (vec_id, dim) — bounded by candidates × dims, not n × dims.
_IVF_KMEANS_TAIL = """probes AS (
    SELECT vec_id AS q_id, cluster
    FROM (SELECT vec_id, cluster,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY d2, cluster) AS rk
          FROM d2s WHERE vec_id < 10) r
    WHERE rk <= 2
),
cands AS (
    SELECT p.q_id, a.vec_id
    FROM probes p JOIN a2 a ON a.cluster = p.cluster
    WHERE a.vec_id <> p.q_id
),
pair AS (
    SELECT c.q_id, c.vec_id,
           CAST(SUM((qq.val - qc.val) * (qq.val - qc.val)) AS BIGINT) AS d2
    FROM cands c
    JOIN q qq ON qq.vec_id = c.q_id
    JOIN q qc ON qc.vec_id = c.vec_id AND qc.dim = qq.dim
    GROUP BY c.q_id, c.vec_id
),
topk AS (
    SELECT q_id, vec_id, d2,
           row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS rk
    FROM pair
)
SELECT q_id, vec_id AS neighbor_id, d2 AS dist2, rk
FROM topk
WHERE rk <= 5
ORDER BY q_id, rk
"""

_KMEANS_FINAL_SELECT = """SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, d2 AS dist2
FROM a2
ORDER BY vec_id
"""

_IVF_KMEANS_SQL = _KMEANS_SQL.replace(
    _KMEANS_FINAL_SELECT, ",\n" + _IVF_KMEANS_TAIL
)

_register(
    "ann_ivf_kmeans_topk",
    _sql_query(
        _IVF_KMEANS_SQL.replace("{DIM}", "pos + 1")
        .replace("{VAL}", "v")
        .replace("{QSRC}",
                 "embeddings LATERAL VIEW posexplode(embedding) t AS pos, v")
        .replace("{DIV}", "DIV")
        .replace("{HINT0}", "/*+ BROADCAST(c) */")
        .replace("{HINT1}", "/*+ BROADCAST(c) */"),
        ("embeddings",),
        "IVF ANN over k-means-refined centroids (2 Lloyd iterations -> "
        "2-probe -> exact integer L2 re-rank, top-5): candidates bounded "
        "by probed clusters, never the full corpus",
        oracle=_IVF_KMEANS_SQL.replace("{DIM}", "t.i")
        .replace("{VAL}", "embedding[t.i]")
        .replace("{QSRC}",
                 "embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)")
        .replace("{DIV}", "//")
        .replace("{HINT0}", "")
        .replace("{HINT1}", ""),
    ),
)


# SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
# web-scale through semantic deduplication"): k-means-cluster the embedding
# space, then within each cluster mark pairs with cosine similarity >= tau
# as SEMANTIC duplicates and keep, per the paper's rule, the member with
# the LOWEST similarity to the cluster centroid (here: the largest
# integer-exact L2 dist2 from the final Lloyd assignment; ties break to the
# lower vec_id). The cluster assignment is the existing integer-exact
# 2-iteration Lloyd refinement, so clustering is bit-identical on both
# engines; only the final cosine is floating point (exact integer dot /
# norms, one IEEE division + sqrt, ROUND to 6 — the ann_cosine_topk
# precedent). Scale shape: all-pairs work is confined WITHIN clusters —
# the paper's regime sizes k so clusters stay small (k ~ sqrt(n) keeps
# E[pairs] linear), pair keys shuffle as (vec_id, vec_id, int64) only, and
# the dot products partial-agg map-side over the dim-exploded join. The
# corpus plants scaled copies (x -> 1.0009765625 * x, an exactly
# representable factor so both engines round the FLOAT cast identically)
# of every 50th vector: cosine(x, c*x) = 1 >= tau, so each planted pair
# must lose exactly its nearer-to-centroid member end-to-end.
_SEMDEDUP_TAIL = """,
sims AS (
    SELECT a.vec_id AS va, b.vec_id AS vb, a.cluster AS cluster,
           a.d2 AS da, b.d2 AS db,
           CAST(ROUND(CAST(SUM(qa.val * qb.val) AS DOUBLE)
                / (sqrt(CAST(SUM(qa.val * qa.val) AS DOUBLE))
                   * sqrt(CAST(SUM(qb.val * qb.val) AS DOUBLE))), 6)
                AS DOUBLE) AS sim
    FROM {A2} a JOIN {A2} b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    JOIN {Q} qa ON qa.vec_id = a.vec_id
    JOIN {Q} qb ON qb.vec_id = b.vec_id AND qb.dim = qa.dim
    GROUP BY a.vec_id, b.vec_id, a.cluster, a.d2, b.d2
),
dup_edges AS (SELECT * FROM sims WHERE sim >= 0.99),
removed AS (
    SELECT va AS vec_id FROM dup_edges
    WHERE da < db OR (da = db AND va > vb)
    UNION
    SELECT vb AS vec_id FROM dup_edges
    WHERE db < da OR (da = db AND vb > va)
)
SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
       (r.vec_id IS NULL) AS kept
FROM {A2} a LEFT JOIN removed r ON r.vec_id = a.vec_id
ORDER BY a.vec_id
"""

_SEMDEDUP_CORPUS_SPARK = """semcorpus AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id,
           transform(embedding, v -> CAST(CAST(v AS DOUBLE)
               * CAST(1.0009765625 AS DOUBLE) AS FLOAT)) AS embedding
    FROM embeddings WHERE vec_id % 50 = 0
),
"""

_SEMDEDUP_CORPUS_DUCK = """semcorpus AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id,
           list_transform(embedding, v -> CAST(CAST(v AS DOUBLE)
               * CAST(1.0009765625 AS DOUBLE) AS FLOAT)) AS embedding
    FROM embeddings WHERE vec_id % 50 = 0
),
"""

def _semdedup_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """localCheckpoint the quantized-vector table (sem_q) and the final
    Lloyd assignment (sem_a2): the tail references q twice (qa/qb) and a2
    three times, and InlineCTE re-inlines multi-referenced CTEs in a way
    that defeats cache substitution (the pagerank_fetch_plan pathology —
    expressed as one SQL string this plan showed 96 duplicated parquet
    scans: the whole k-means chain re-ran per reference). Both tables are
    exactly what a production IVF/SemDeDup system materializes anyway: the
    int-quantized vectors and the (vec, cluster, dist2) assignment."""
    _load(spark, sf_dir, "embeddings")
    q_cte = _KMEANS_SQL.split("c0 AS")[0].rstrip().rstrip(",")  # WITH q AS (…)
    spark_frags = (
        ("{DIM}", "pos + 1"),
        ("{VAL}", "v"),
        ("{QSRC}", "semcorpus LATERAL VIEW posexplode(embedding) t AS pos, v"),
        ("{DIV}", "DIV"),
        ("{HINT0}", "/*+ BROADCAST(c) */"),
        ("{HINT1}", "/*+ BROADCAST(c) */"),
    )

    def _fmt(sql: str) -> str:
        for k, v in spark_frags:
            sql = sql.replace(k, v)
        return sql

    q_df = spark.sql(
        _fmt((q_cte + "\nSELECT vec_id, dim, val FROM q").replace(
            "WITH q AS", "WITH " + _SEMDEDUP_CORPUS_SPARK + "q AS"))
    ).localCheckpoint(eager=True)
    q_df.createOrReplaceTempView("sem_q")
    # the Lloyd chain reads the checkpointed sem_q, not a re-derived q: its
    # own multi-references (c0/d1/c1) would otherwise re-run the corpus
    # union + quantization per reference too
    a2_df = spark.sql(
        _fmt("WITH q AS (SELECT vec_id, dim, val FROM sem_q),\nc0 AS"
             + _KMEANS_SQL.split("c0 AS", 1)[1].replace(
                 _KMEANS_FINAL_SELECT, "SELECT vec_id, cluster, d2 FROM a2\n"))
    ).localCheckpoint(eager=True)
    a2_df.createOrReplaceTempView("sem_a2")
    tail = "WITH " + _SEMDEDUP_TAIL.lstrip(",\n")
    return spark.sql(tail.replace("{A2}", "sem_a2").replace("{Q}", "sem_q"))


_register(
    "dedup_semantic_semdedup",
    QueryDef(
        build=_semdedup_build,
        oracle=_KMEANS_SQL.replace(_KMEANS_FINAL_SELECT, _SEMDEDUP_TAIL)
        .replace("WITH q AS", "WITH " + _SEMDEDUP_CORPUS_DUCK + "q AS")
        .replace("{A2}", "a2")
        .replace("{Q}", "q")
        .replace("{DIM}", "t.i")
        .replace("{VAL}", "embedding[t.i]")
        .replace("{QSRC}",
                 "semcorpus, unnest(range(1, len(embedding) + 1)) AS t(i)")
        .replace("{DIV}", "//")
        .replace("{HINT0}", "")
        .replace("{HINT1}", ""),
        doc="SemDeDup: within-k-means-cluster cosine >= 0.99 semantic dups, "
        "keep the member farthest from the centroid (Abbas et al. 2023); "
        "all-pairs confined within clusters, integer-exact clustering",
    ),
)

# =============================================================================
# Fuzzy-dedup capstone: MinHash -> LSH -> exact-Jaccard verify -> connected
# components -> survivor selection, in ONE operator. This is the composition
# every web-corpus build runs (candidates alone over-merge via transitivity;
# pairs alone under-merge): each input document ends up either KEPT (one
# survivor per near-dup cluster, min doc_id) or dropped, with the cluster id
# and how many near-dups the survivor absorbed. The verify threshold is an
# INTEGER cross-multiplication (overlap*10 >= 7*union, i.e. Jaccard >= 0.7)
# so the gate is bit-identical on both engines. Scale shape: everything past
# the one md5 pass moves 8-byte hashes or (id, id)/(id, label) pairs —
# signatures join on (j, mh), verify joins on 56-bit shingle hashes limited
# to candidate pairs, the CC loop is pointer jumping over verified pairs
# (O(log diameter) shuffles), and the final survivor agg is one partial-agg
# groupBy on (cluster_id). Document text never crosses an exchange.
_FUZZY_VERIFIED_CTE = """
sizes AS (
    SELECT doc_id, COUNT(*) AS n FROM mh_exploded GROUP BY doc_id
),
verified AS (
    SELECT i.doc_a, i.doc_b
    FROM (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS overlap
        FROM candidates c
        JOIN mh_exploded ea ON ea.doc_id = c.doc_a
        JOIN mh_exploded eb ON eb.doc_id = c.doc_b AND eb.h = ea.h
        GROUP BY c.doc_a, c.doc_b
    ) i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.overlap * 10 >= 7 * (sa.n + sb.n - i.overlap)
)
"""

_FUZZY_SURVIVOR_SQL = """
WITH labeled AS (
    SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN fuzzy_cc c ON c.doc_id = d.doc_id
)
SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
       CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dups_removed
FROM labeled
GROUP BY cluster_id
ORDER BY doc_id
"""


def _fuzzy_cc_view(spark: SparkSession, sf_dir: str) -> None:
    """MinHash -> LSH -> Jaccard verify -> connected components, registered
    as the `fuzzy_cc` temp view — the shared front of both survivor rules."""
    from .dedup import connected_components

    _mh_views(spark, sf_dir)
    verified = spark.sql(
        "WITH " + _CANDIDATES_CTE.format(cap=_LSH_BUCKET_CAP) + ","
        + _FUZZY_VERIFIED_CTE + "SELECT doc_a, doc_b FROM verified"
    )
    cc = connected_components(
        verified, src="doc_a", dst="doc_b", max_rounds=_CC_MAX_ROUNDS
    ).selectExpr("node AS doc_id", "component AS cluster_id")
    cc.createOrReplaceTempView("fuzzy_cc")


def _fuzzy_e2e_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    _fuzzy_cc_view(spark, sf_dir)
    return spark.sql(_FUZZY_SURVIVOR_SQL)


_FUZZY_ORACLE = (
    _duck_mh_cte().replace("WITH toks", "WITH RECURSIVE toks", 1)
    + "," + _CANDIDATES_CTE.format(cap=_LSH_BUCKET_CAP)
    + "," + _FUZZY_VERIFIED_CTE
    + """,
sym AS (
    SELECT doc_a AS src, doc_b AS dst FROM verified
    UNION ALL
    SELECT doc_b, doc_a FROM verified
),
reach(src, node) AS (
    SELECT src, src FROM (SELECT DISTINCT src FROM sym) n
    UNION
    SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.node
),
fuzzy_cc AS (
    SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src
)"""
)

_FUZZY_ORACLE_CC_PREFIX = _FUZZY_ORACLE

_FUZZY_ORACLE = _FUZZY_ORACLE_CC_PREFIX + """,
labeled AS (
    SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN fuzzy_cc c ON c.doc_id = d.doc_id
)
SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
       CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dups_removed
FROM labeled
GROUP BY cluster_id
ORDER BY doc_id
"""

_register(
    "dedup_fuzzy_e2e",
    QueryDef(
        build=_fuzzy_e2e_build,
        oracle=_FUZZY_ORACLE,
        doc="fuzzy-dedup capstone: MinHash -> LSH candidates -> integer "
            "Jaccard>=0.7 verify -> connected components -> one survivor "
            "per cluster (min doc_id) with absorbed-dup counts",
    ),
)

# Duplicate-span REMOVAL (the transformation behind text_dup_span_fraction's
# signal — Lee et al. 2022 exact-substring dedup applied): a token is
# removed iff it is covered by any 8-token gram whose hash occurs in >= 2
# DISTINCT documents; each document is reassembled from its surviving
# tokens in original order and fingerprinted. Coverage is computed WITHOUT
# a range join: dup-start flags ride the same (doc_id, pos) window
# partitioning as the gram leads, and covered(pos) = MAX(dup_start) over
# ROWS 7 PRECEDING — the 7 leads, the coverage max, the distinct, and the
# final per-doc agg all share one (doc_id, pos) clustering; dup-hash
# detection groups on the 8-byte hash and joins back as a BROADCAST (the
# dup set is the small side by construction). The detect-globally /
# apply-locally diamond recomputes the gram pipeline once on the dup
# branch — deliberate: at 10^10 docs, persisting the full (doc_id, pos,
# w, h) token stream to dodge one extra md5 pass costs more than the pass
# (measured 3.8 s at sf0.1 with recompute; same tradeoff as
# text_dup_span_fraction). Reassembly aggregates each doc's own kept
# (pos, w) structs — gram text never crosses an exchange; kept text
# exists only inside the final per-doc aggregate.
_DUPREMOVE_SPARK_SQL = """
WITH toks AS (
    SELECT doc_id, {WORDS} AS words FROM documents
),
tok AS (
    SELECT doc_id, pos, w
    FROM toks LATERAL VIEW posexplode(words) t AS pos, w
),
g AS (
    SELECT doc_id, pos, w,
           CASE WHEN lead(w, 7) OVER win IS NOT NULL THEN
               CAST(conv(substring(md5(concat_ws(' ', w,
                    lead(w, 1) OVER win, lead(w, 2) OVER win,
                    lead(w, 3) OVER win, lead(w, 4) OVER win,
                    lead(w, 5) OVER win, lead(w, 6) OVER win,
                    lead(w, 7) OVER win)), 1, 14), 16, 10) AS BIGINT)
           END AS h
    FROM tok
    WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
dup AS (
    SELECT h
    FROM (SELECT DISTINCT doc_id, h FROM g WHERE h IS NOT NULL) dh
    GROUP BY h
    HAVING COUNT(*) >= 2
),
covered AS (
    SELECT doc_id, pos, w,
           MAX(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
    FROM g LEFT JOIN dup d ON d.h = g.h
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(cov) AS BIGINT) AS n_removed,
       md5(array_join(transform(
           array_sort(collect_list(CASE WHEN cov = 0
                                        THEN struct(pos, w) END)),
           s -> s.w), ' ')) AS kept_fp
FROM covered
GROUP BY doc_id
ORDER BY doc_id
"""

_DUPREMOVE_DUCK_SQL = """
WITH toks AS (
    SELECT doc_id, {WORDS} AS words FROM documents
),
g AS (
    SELECT doc_id, i - 1 AS pos, words[i] AS w,
           CASE WHEN i + 7 <= len(words) THEN
               ('0x' || substr(md5(array_to_string(words[i:i+7], ' ')),
                               1, 14))::BIGINT
           END AS h
    FROM toks, unnest(range(1, len(words) + 1)) AS t(i)
),
dup AS (
    SELECT h
    FROM (SELECT DISTINCT doc_id, h FROM g WHERE h IS NOT NULL) dh
    GROUP BY h
    HAVING COUNT(*) >= 2
),
covered AS (
    SELECT doc_id, pos, w,
           MAX(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
    FROM g LEFT JOIN dup d ON d.h = g.h
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(cov) AS BIGINT) AS n_removed,
       md5(COALESCE(string_agg(w, ' ' ORDER BY pos)
                    FILTER (WHERE cov = 0), '')) AS kept_fp
FROM covered
GROUP BY doc_id
ORDER BY doc_id
"""

_register(
    "text_dup_span_removal",
    _sql_query(
        _DUPREMOVE_SPARK_SQL.replace("{WORDS}", _SPARK_WORDS),
        ("documents",),
        "exact-substring dedup applied (Lee et al. 2022): tokens covered "
        "by any cross-doc-duplicated 8-gram removed, docs reassembled from "
        "survivors in order — coverage via window max, no range join",
        oracle=_DUPREMOVE_DUCK_SQL.replace("{WORDS}", _DUCK_WORDS),
    ),
)

# Link-authority-driven crawl scheduling — the north-star sentence ("per-
# host politeness budgets ... drive a priority queue") with DOMAIN QUALITY
# as the driver: host PageRank rank units (exact integer arithmetic, see
# host_pagerank) become the weights of a largest-remainder global-budget
# allocation (exact, sums to the budget — see host_budget_allocation), and
# each host's candidate pages are admitted by a per-host top-k on
# (n_chars desc, doc_id) capped at that host's allocated budget. Hosts the
# link graph never ranked get no budget (inner join) — deterministic on
# both engines. Scale shape: the PageRank loop shuffles only (id, rank)
# pairs; allocation runs on the |hosts|-row table (broadcast-sized); the
# page-admission window partitions by host — the same place fetch_plan's
# mega-host salting applies when a host's candidate set is skewed (the
# salted two-level top-k is proven ≡ this window rank by
# tests/test_scale_modules.py).
_PRPLAN_BUDGET = 400

_PRPLAN_TAIL = """
tot AS (
    SELECT CAST(SUM(rank_units) AS BIGINT) AS total_wt FROM pr_ranks
),
base AS (
    SELECT host_id, rank_units,
           CAST(({B} * rank_units) {IDIV} total_wt AS BIGINT) AS floor_alloc,
           CAST(({B} * rank_units) % total_wt AS BIGINT) AS rem
    FROM pr_ranks CROSS JOIN tot
),
leftover AS (
    SELECT CAST({B} - SUM(floor_alloc) AS BIGINT) AS n_extra FROM base
),
budgets AS (
    SELECT host_id,
           floor_alloc + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, host_id)
                                   <= (SELECT n_extra FROM leftover)
                              THEN 1 ELSE 0 END AS budget
    FROM base
),
pages AS (
    SELECT doc_id % {MOD} AS host_id, doc_id, n_chars FROM documents
),
admitted AS (
    SELECT p.host_id, p.doc_id, b.budget,
           ROW_NUMBER() OVER (PARTITION BY p.host_id
                              ORDER BY p.n_chars DESC, p.doc_id) AS rnk
    FROM pages p JOIN budgets b ON b.host_id = p.host_id
)
SELECT CAST(host_id AS BIGINT) AS host_id,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(rnk AS BIGINT) AS fetch_rank,
       CAST(budget AS BIGINT) AS host_budget
FROM admitted
WHERE rnk <= budget
ORDER BY host_id, fetch_rank
"""


def _prplan_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # localCheckpoint the |hosts|-row rank table: the allocation CTE
    # references it from tot/base/leftover/budgets, and Spark's InlineCTE
    # re-inlines a multi-referenced CTE in a way that defeats cache
    # substitution (measured: a persisted view referenced twice through a
    # WITH shows ZERO InMemoryTableScans and 233 duplicated parquet scans
    # — the full 5-round PageRank DAG re-ran per reference, 9.2 s at
    # sf0.1). Checkpointing truncates the lineage to a materialized RDD,
    # so every inlined reference is a 40-row scan. eager=True: the rank
    # table must exist before the tail plan compiles.
    ranks = _pr_ranks_df(spark, sf_dir).localCheckpoint(eager=True)
    ranks.createOrReplaceTempView("pr_ranks_raw")
    return spark.sql(
        "WITH pr_ranks AS (SELECT id AS host_id, CAST(r AS BIGINT) AS "
        "rank_units FROM pr_ranks_raw),"
        + _PRPLAN_TAIL.format(B=_PRPLAN_BUDGET, IDIV="DIV", MOD=_PR_MOD)
    )


_register(
    "pagerank_fetch_plan",
    QueryDef(
        build=_prplan_build,
        oracle=_pr_cte_prefix()
        + f", pr_ranks AS (SELECT id AS host_id, CAST(r AS BIGINT) AS "
          f"rank_units FROM ranks{_PR_ROUNDS}),"
        + _PRPLAN_TAIL.format(B=_PRPLAN_BUDGET, IDIV="//", MOD=_PR_MOD),
        doc="link-authority crawl scheduling: host PageRank -> largest-"
            "remainder budget allocation -> per-host top-k page admission",
    ),
)


# Sequence packing for LM training shards (the GPT-style concat-and-chunk
# dataloader): documents are concatenated in doc_id order and chunked into
# fixed SEQ_LEN-token shards; each doc reports the shard + offset where its
# first token lands and the shard where its last token lands (a doc may
# straddle shards — that IS the packing scheme). The global token prefix-sum
# is computed DISTRIBUTED: per-block partial sums (blk = doc_id div 64), an
# exclusive prefix over the tiny block table, broadcast back, plus an
# intra-block running sum — identical result to a global cumsum without a
# single-partition window over the doc stream. Scale sizing: pick the block
# granularity so the block table stays driver/broadcast-sized (10^4 blocks
# of 10^6 docs at 10^10 docs; the prefix over blocks can itself be
# hierarchical if needed). 64 here exercises multi-block logic at sf0.001.
# All BIGINT arithmetic — order-independent and oracle-exact.
_PACK_SEQ_LEN = 2048
_PACK_SEQ_SQL = """
WITH toks AS (
    SELECT doc_id, CAST({SIZE}({WORDS}) AS BIGINT) AS n_tokens FROM documents
),
docs AS (
    SELECT doc_id, n_tokens, doc_id {DIV} 64 AS blk
    FROM toks WHERE n_tokens > 0
),
blk_tot AS (
    SELECT blk, CAST(SUM(n_tokens) AS BIGINT) AS blk_sum FROM docs GROUP BY blk
),
blk_pre AS (
    SELECT blk,
           CAST(COALESCE(SUM(blk_sum) OVER (ORDER BY blk
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS prefix
    FROM blk_tot
),
cum AS (
    SELECT {JOINHINT} d.doc_id, d.n_tokens,
           p.prefix
             + SUM(d.n_tokens) OVER (PARTITION BY d.blk ORDER BY d.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - d.n_tokens AS start_tok
    FROM docs d JOIN blk_pre p ON p.blk = d.blk
)
SELECT doc_id, n_tokens,
       CAST(start_tok {DIV} {SEQ} AS BIGINT) AS shard_id,
       CAST(start_tok - (start_tok {DIV} {SEQ}) * {SEQ} AS BIGINT)
         AS shard_offset,
       CAST((start_tok + n_tokens - 1) {DIV} {SEQ} AS BIGINT) AS shard_id_last
FROM cum
ORDER BY doc_id
"""

_register(
    "trainset_pack_sequences",
    _sql_query(
        _PACK_SEQ_SQL
        .replace("{WORDS}", _SPARK_WORDS)
        .replace("{SIZE}", "size")
        .replace("{JOINHINT}", "/*+ BROADCAST(p) */")
        .replace("{DIV}", "DIV")
        .replace("{SEQ}", str(_PACK_SEQ_LEN)),
        ("documents",),
        "GPT-style sequence packing: concat-and-chunk docs into fixed "
        "2048-token shards via a DISTRIBUTED prefix-sum (block partials + "
        "broadcast exclusive prefix + intra-block window — no "
        "single-partition cumsum)",
        oracle=_PACK_SEQ_SQL
        .replace("{WORDS}", _DUCK_WORDS)
        .replace("{SIZE}", "len")
        .replace("{JOINHINT}", "")
        .replace("{DIV}", "//")
        .replace("{SEQ}", str(_PACK_SEQ_LEN)),
    ),
)


# Gopher repetition rules, top-n-gram family (Rae et al. 2021 Table A1):
# the fraction of a document's characters covered by occurrences of its
# single MOST FREQUENT n-gram, for n = 2,3,4, gated at 0.20 / 0.18 / 0.16.
# Complements text_repetition_score (distinct-shingle ratio) and
# text_dup_span_fraction (cross-doc duplicate grams) — this is the
# INTRA-doc template-spam signal (a page that repeats "click here to buy"
# 200 times). Char accounting: gram chars = sum of its word lengths (the
# separator-free convention), total = sum of all word lengths. Frequency
# ties resolve to the tied gram with the most chars — deterministic and
# order-independent. Gates are INTEGER cross-multiplications (5*top2 <=
# total is "<= 0.20"), permilles are floored BIGINTs — bit-identical
# across engines. Spark plan: the three gram lengths ride ONE (doc_id,
# pos) exchange — shared-window leads, then a SINGLE Generate exploding a
# 4-struct array (n=1 rows double as the per-doc char totals), NOT a
# UNION ALL of per-n branches: a union re-inlines the window pipeline per
# branch and re-scans/re-tokenizes documents once per gram length
# (measured 7 scans vs 3 in the plan audit). The counts→{top,cover,total}
# diamond still recomputes the gram pipeline (3 scans) — accepted, same
# rationale as text_dup_span_removal: recompute beats persisting a
# corpus-sized gram table. Downstream is partial-agg groupBys on
# (doc_id, n, gram-text) — a production run would hash grams to 8 bytes
# first (dup-span's trick). The DuckDB oracle states the same semantics
# as plain UNION ALL branches (oracle clarity over oracle speed).
_TOPGRAM_HEAD = """
WITH toks AS (
    SELECT doc_id, {WORDS} AS words FROM documents
),
tok AS (
    SELECT doc_id, pos, w FROM {TOKSRC}
),
led AS (
    SELECT doc_id, w AS w1,
           lead(w, 1) OVER win AS w2,
           lead(w, 2) OVER win AS w3,
           lead(w, 3) OVER win AS w4
    FROM tok
    WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
"""

_TOPGRAM_SPARK_GRAMS = """
grams AS (
    SELECT doc_id, e.n AS n, e.gram AS gram, e.gchars AS gchars
    FROM led
    LATERAL VIEW explode(array(
        named_struct('n', 1, 'gram', w1, 'gchars', length(w1)),
        named_struct('n', 2,
            'gram', IF(w2 IS NULL, NULL, concat(w1, ' ', w2)),
            'gchars', length(w1) + length(w2)),
        named_struct('n', 3,
            'gram', IF(w3 IS NULL, NULL, concat(w1, ' ', w2, ' ', w3)),
            'gchars', length(w1) + length(w2) + length(w3)),
        named_struct('n', 4,
            'gram', IF(w4 IS NULL, NULL,
                       concat(w1, ' ', w2, ' ', w3, ' ', w4)),
            'gchars', length(w1) + length(w2) + length(w3) + length(w4))
    )) g AS e
    WHERE e.gram IS NOT NULL
),
"""

_TOPGRAM_DUCK_GRAMS = """
grams AS (
    SELECT doc_id, 1 AS n, w1 AS gram, length(w1) AS gchars FROM led
    UNION ALL
    SELECT doc_id, 2, w1 || ' ' || w2,
           length(w1) + length(w2)
    FROM led WHERE w2 IS NOT NULL
    UNION ALL
    SELECT doc_id, 3, w1 || ' ' || w2 || ' ' || w3,
           length(w1) + length(w2) + length(w3)
    FROM led WHERE w3 IS NOT NULL
    UNION ALL
    SELECT doc_id, 4, w1 || ' ' || w2 || ' ' || w3 || ' ' || w4,
           length(w1) + length(w2) + length(w3) + length(w4)
    FROM led WHERE w4 IS NOT NULL
),
"""

_TOPGRAM_TAIL = """
counts AS (
    SELECT doc_id, n, gram,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(MIN(gchars) AS BIGINT) AS gchars
    FROM grams GROUP BY doc_id, n, gram
),
top AS (
    SELECT doc_id, n, MAX(cnt) AS max_cnt
    FROM counts WHERE n >= 2 GROUP BY doc_id, n
),
cover AS (
    SELECT c.doc_id, c.n,
           CAST(MAX(CASE WHEN c.cnt = t.max_cnt
                         THEN c.cnt * c.gchars END) AS BIGINT) AS top_chars
    FROM counts c
    JOIN top t ON t.doc_id = c.doc_id AND t.n = c.n
    GROUP BY c.doc_id, c.n
),
total AS (
    SELECT doc_id, CAST(SUM(cnt * gchars) AS BIGINT) AS total_chars
    FROM counts WHERE n = 1 GROUP BY doc_id
),
pivoted AS (
    SELECT t.doc_id, t.total_chars,
           CAST(COALESCE(MAX(CASE WHEN c.n = 2 THEN c.top_chars END), 0)
                AS BIGINT) AS top2_chars,
           CAST(COALESCE(MAX(CASE WHEN c.n = 3 THEN c.top_chars END), 0)
                AS BIGINT) AS top3_chars,
           CAST(COALESCE(MAX(CASE WHEN c.n = 4 THEN c.top_chars END), 0)
                AS BIGINT) AS top4_chars
    FROM total t
    LEFT JOIN cover c ON c.doc_id = t.doc_id
    GROUP BY t.doc_id, t.total_chars
)
SELECT doc_id, total_chars,
       CAST((1000 * top2_chars) {DIV} total_chars AS BIGINT) AS top2_permille,
       CAST((1000 * top3_chars) {DIV} total_chars AS BIGINT) AS top3_permille,
       CAST((1000 * top4_chars) {DIV} total_chars AS BIGINT) AS top4_permille,
       (5 * top2_chars <= 1 * total_chars
        AND 50 * top3_chars <= 9 * total_chars
        AND 25 * top4_chars <= 4 * total_chars) AS passes_topgram_gates
FROM pivoted
ORDER BY doc_id
"""

_register(
    "text_topgram_gates",
    _sql_query(
        (_TOPGRAM_HEAD + _TOPGRAM_SPARK_GRAMS + _TOPGRAM_TAIL)
        .replace("{WORDS}", _SPARK_WORDS)
        .replace("{TOKSRC}", "toks LATERAL VIEW posexplode(words) t AS pos, w")
        .replace("{DIV}", "DIV"),
        ("documents",),
        "Gopher top-n-gram char-fraction gates (n=2,3,4 at 0.20/0.18/0.16): "
        "most-frequent-gram char coverage per doc, integer cross-multiplied "
        "gates; one struct-explode Generate over the shared lead window "
        "(no per-n union rescans)",
        oracle=(_TOPGRAM_HEAD + _TOPGRAM_DUCK_GRAMS + _TOPGRAM_TAIL)
        .replace("{WORDS}", _DUCK_WORDS)
        .replace(
            "{TOKSRC}",
            "(SELECT doc_id, i AS pos, words[i] AS w "
            "FROM toks, unnest(range(1, len(words) + 1)) AS t(i)) u",
        )
        .replace("{DIV}", "//"),
    ),
)


# CDX-style SURT index + domain prefix lookup (the Common-Crawl /
# Internet-Archive URL-index shape: Sort-friendly URI Reordering
# Transform). Every page gets a SURT key — host labels reversed and
# comma-joined (com,example,src1), a leading www. canonicalized away,
# ')' + path appended — and a domain lookup is then a PREFIX RANGE over
# the sorted key space: exact host 'dom)...' plus subdomains 'dom,...',
# which is how one asks "everything under src1.example.com" without a
# reverse-DNS-style join. Hosts are synthesized closed-form from doc_id
# with three shapes (bare, www., deep-subdomain on another TLD) so the
# reversal, www-strip, and subdomain-vs-TLD-sibling behavior are all
# exercised. Scale shape: pure codegen projections; at 10^10 rows the
# index is WRITTEN sorted/range-partitioned by surt (Iceberg sort order),
# so this lookup is a partition-pruned range scan — the LIKE prefix pair
# here is the semantic contract, the storage layout is the fast path.
_CDX_SQL = """
WITH pages AS (
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT)
             WHEN 0 THEN source || '.example.com'
             WHEN 1 THEN 'www.' || source || '.example.com'
             ELSE 'cdn.assets.' || source || '.example.org'
           END AS host,
           '/p' || CAST(doc_id AS {STR}) || '.html' AS path
    FROM documents
),
canon AS (
    SELECT doc_id, host, path,
           CASE WHEN host LIKE 'www.%' THEN substr(host, 5)
                ELSE host END AS chost
    FROM pages
),
keyed AS (
    SELECT doc_id, host,
           {REVJOIN} || ')' || path AS surt
    FROM canon
)
SELECT surt, doc_id, host
FROM keyed
WHERE surt LIKE 'com,example,src1)%' OR surt LIKE 'com,example,src1,%'
ORDER BY surt, doc_id
"""

_register(
    "cdx_surt_lookup",
    _sql_query(
        _CDX_SQL
        .replace("{STR}", "STRING")
        .replace("{REVJOIN}",
                 "array_join(reverse(split(chost, '[.]')), ',')"),
        ("documents",),
        "CDX/SURT URL index + domain prefix lookup: reversed-host sort "
        "keys (www-canonicalized), subdomain-inclusive prefix range — "
        "codegen projections; sorted/range-partitioned storage makes the "
        "lookup a pruned range scan at scale",
        oracle=_CDX_SQL
        .replace("{STR}", "VARCHAR")
        .replace("{REVJOIN}",
                 "array_to_string(list_reverse(string_split(chost, '.')), "
                 "',')"),
    ),
)


# Corpus n-gram count table (the Google Web-1T artifact shape: corpus-wide
# n-gram counts with a count cutoff, the raw material for KenLM training
# and the bigram-LM operator above): for n = 1,2,3, every gram occurring
# >= 2 times with its corpus count, top-40 per n by (count desc, gram asc)
# — the deterministic "head of the language model" slice. Spark plan: one
# struct-explode Generate over the shared lead window (same no-union-rescan
# rationale as text_topgram_gates), ONE partial-agg groupBy on (n, gram) —
# the cutoff filter runs on aggregated rows, so singleton grams die in the
# partial agg's output, not in a second pass — then a rank window per n
# executed as map-side WindowGroupLimit over the surviving counts. At
# 10^10 docs the (n, gram) agg is the only real shuffle and is
# map-side-combined; production would hash grams to 8 bytes and keep a
# gram->hash sidecar for the head slice only.
_NGRAM_TABLE_SQL = """
WITH toks AS (
    SELECT doc_id, {WORDS} AS words FROM documents
),
tok AS (
    SELECT doc_id, pos, w FROM {TOKSRC}
),
led AS (
    SELECT doc_id, w AS w1,
           lead(w, 1) OVER win AS w2,
           lead(w, 2) OVER win AS w3
    FROM tok
    WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
grams AS (
    {GRAMS}
),
counts AS (
    SELECT n, gram, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM grams GROUP BY n, gram
    HAVING COUNT(*) >= 2
),
ranked AS (
    SELECT n, gram, cnt,
           row_number() OVER (PARTITION BY n
                              ORDER BY cnt DESC, gram) AS rk
    FROM counts
)
SELECT CAST(n AS BIGINT) AS n, gram, cnt, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 40
ORDER BY n, rk
"""

_NGRAM_SPARK_GRAMS = """
    SELECT e.n AS n, e.gram AS gram
    FROM led
    LATERAL VIEW explode(array(
        named_struct('n', 1, 'gram', w1),
        named_struct('n', 2,
            'gram', IF(w2 IS NULL, NULL, concat(w1, ' ', w2))),
        named_struct('n', 3,
            'gram', IF(w3 IS NULL, NULL, concat(w1, ' ', w2, ' ', w3)))
    )) g AS e
    WHERE e.gram IS NOT NULL
"""

_NGRAM_DUCK_GRAMS = """
    SELECT 1 AS n, w1 AS gram FROM led
    UNION ALL
    SELECT 2, w1 || ' ' || w2 FROM led WHERE w2 IS NOT NULL
    UNION ALL
    SELECT 3, w1 || ' ' || w2 || ' ' || w3 FROM led WHERE w3 IS NOT NULL
"""

_register(
    "ngram_count_table",
    _sql_query(
        _NGRAM_TABLE_SQL
        .replace("{GRAMS}", _NGRAM_SPARK_GRAMS)
        .replace("{WORDS}", _SPARK_WORDS)
        .replace("{TOKSRC}",
                 "toks LATERAL VIEW posexplode(words) t AS pos, w"),
        ("documents",),
        "Web-1T-style corpus n-gram count table (n=1,2,3, cutoff >=2, "
        "top-40 head per n): one struct-explode over the shared lead "
        "window, one map-side-combined (n,gram) agg, rank via map-side "
        "WindowGroupLimit",
        oracle=_NGRAM_TABLE_SQL
        .replace("{GRAMS}", _NGRAM_DUCK_GRAMS)
        .replace("{WORDS}", _DUCK_WORDS)
        .replace(
            "{TOKSRC}",
            "(SELECT doc_id, i AS pos, words[i] AS w "
            "FROM toks, unnest(range(1, len(words) + 1)) AS t(i)) u",
        ),
    ),
)


# Temperature-based domain mixing (the mT5/XLM-R sampling scheme: sample
# sources proportional to p^(1/τ) so low-resource domains are boosted
# without flattening to uniform). τ = 2 here, i.e. weight ∝ sqrt(tokens):
# sqrt is one of the IEEE-754 CORRECTLY-ROUNDED operations (unlike ln /
# exp / pow), so FLOOR(SQRT(bigint)) is bit-identical across engines and
# the whole operator stays integer-exact — the general-τ pow() version
# cannot promise that, which is why τ=2 is the engine-portable choice.
# boost_permille is computed from the RAW integers ((1000·√w·Σt) div
# (t·Σ√w)), not from the two floored shares, so it carries no compounded
# floor error. Complements mix_domain_weights (uniform target) and
# mix_resample_corpus (weights applied). One partial-agg groupBy to
# |sources| rows; everything downstream runs on the tiny source table.
_MIX_TEMP_SQL = """
WITH tok AS (
    SELECT source, CAST({size_fn}({words_expr}) AS BIGINT) AS n_tokens
    FROM documents
),
agg AS (
    SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tokens
    FROM tok GROUP BY source
),
w AS (
    SELECT source, tokens,
           CAST(FLOOR(SQRT(CAST(tokens AS DOUBLE))) AS BIGINT) AS sw
    FROM agg
),
tot AS (
    SELECT CAST(SUM(tokens) AS BIGINT) AS total,
           CAST(SUM(sw) AS BIGINT) AS total_sw
    FROM w
)
SELECT source, tokens, sw AS sqrt_weight,
       CAST((1000 * tokens) {DIV} total AS BIGINT) AS natural_permille,
       CAST((1000 * sw) {DIV} total_sw AS BIGINT) AS temp_permille,
       CAST((1000 * sw * total) {DIV} (tokens * total_sw) AS BIGINT)
         AS boost_permille
FROM w CROSS JOIN tot
ORDER BY source
"""
_register(
    "mix_temperature_weights",
    _sql_query(
        _MIX_TEMP_SQL.replace("{size_fn}", "size")
        .replace("{words_expr}", _SPARK_WORDS)
        .replace("{DIV}", "DIV"),
        ("documents",),
        "temperature-based domain mixing (tau=2, weight ~ sqrt(tokens) — "
        "sqrt is IEEE-correctly-rounded, so the op stays integer-exact): "
        "natural vs temperature shares + per-source boost factor",
        oracle=_MIX_TEMP_SQL.replace("{size_fn}", "len")
        .replace("{words_expr}", _DUCK_WORDS)
        .replace("{DIV}", "//"),
    ),
)


# Quality-aware fuzzy-dedup survivor selection: the production variant of
# dedup_fuzzy_e2e's min-doc_id rule — real corpus builds keep the BEST
# member of each near-dup cluster (here: most tokens, tie-broken by
# doc_id), because near-dups are usually truncations/boilerplate-wrapped
# copies of one canonical page. Shares the whole MinHash->LSH->verify->CC
# front with dedup_fuzzy_e2e (the `fuzzy_cc` view); only the final
# survivor window differs — one row_number() over clusters, executed as
# map-side WindowGroupLimit over the tiny (doc_id, cluster) table.
_FUZZY_BEST_TAIL = """
labeled AS (
    SELECT d.doc_id, d.n_tokens,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM (SELECT doc_id, CAST({SIZE}({WORDS}) AS BIGINT) AS n_tokens
          FROM documents) d
    LEFT JOIN fuzzy_cc c ON c.doc_id = d.doc_id
),
ranked AS (
    SELECT doc_id, n_tokens, cluster_id,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY n_tokens DESC, doc_id) AS rk,
           COUNT(*) OVER (PARTITION BY cluster_id) AS sz
    FROM labeled
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(sz - 1 AS BIGINT) AS n_dups_removed
FROM ranked WHERE rk = 1
ORDER BY doc_id
"""


def _fuzzy_best_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    _fuzzy_cc_view(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _FUZZY_BEST_TAIL
        .replace("{SIZE}", "size")
        .replace("{WORDS}", _SPARK_WORDS)
    )


_register(
    "dedup_fuzzy_best_survivor",
    QueryDef(
        build=_fuzzy_best_build,
        oracle=_FUZZY_ORACLE_CC_PREFIX + ","
        + _FUZZY_BEST_TAIL
        .replace("{SIZE}", "len")
        .replace("{WORDS}", _DUCK_WORDS),
        doc="fuzzy dedup with quality-aware survivor selection: keep each "
            "near-dup cluster's longest member (tie: doc_id) — the "
            "production rule; shares the MinHash/LSH/verify/CC front with "
            "dedup_fuzzy_e2e",
    ),
)


# =============================================================================
# C4 cleaning pipeline (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning with a Unified Text-to-Text Transformer", §2.2) — the
# published rule set behind the C4 corpus, re-expressed as pure codegen
# column expressions plus ONE groupBy(doc_id):
#   line level:  keep only lines ending in a terminal punctuation mark
#                (. ! ? "), with >= 5 words, not containing "javascript";
#   page level:  drop pages containing "lorem ipsum", a curly brace, or a
#                bad-word-list hit (tiny deterministic stand-in here — the
#                real LDNOOBW/UT1 list is a broadcast lookup at scale,
#                identical shape); drop cleaned pages with < 3 sentences.
# A deterministic multi-line page is synthesized per documents row so every
# rule fires on a known residue class: %4 javascript line, %5 lorem page,
# %7 curly-brace page, %11 bad-word page, %3/%9/%13 unpunctuated lines —
# and doc 117 (%9 ∧ %13) retains only 2 sentences and dies on the
# sentence-count gate, pinning the post-aggregation path.
# Scale shape: the page gates are computed BEFORE the line explode and ride
# the exploded rows as one int column (scan-side filter, no join-back); the
# only shuffle is the per-doc reassembly groupBy; the sentence gate runs on
# |kept docs| aggregated rows.

_C4_L0 = "text || '.'"
_C4_L1 = "'Too short.'"
_C4_L2 = "'five or more words but no terminal punctuation present'"
_C4_L3 = (
    "CASE WHEN doc_id % 4 = 0 THEN "
    "'Please enable javascript support to view this content properly.' "
    "WHEN doc_id % 3 = 0 THEN "
    "'another long line of words that forgot its ending punctuation' "
    "ELSE 'An exclamatory sentence with plenty of words to pass the gate!' "
    "END"
)
_C4_L4 = (
    "CASE WHEN doc_id % 5 = 0 THEN "
    "'Lorem ipsum dolor sit amet consectetur adipiscing elit sed tempor.' "
    "WHEN doc_id % 9 = 0 THEN "
    "'middle line also lacking any terminal punctuation across many words' "
    "ELSE "
    "'Does this interrogative sentence carry enough words to survive, friend?' "
    "END"
)
_C4_L5 = (
    "CASE WHEN doc_id % 7 = 0 THEN "
    "'var config = { mode: production, debug: false };' "
    "WHEN doc_id % 13 = 0 THEN "
    "'closing line missing punctuation yet again for this document here' "
    "ELSE 'A calm declarative closing sentence rounds out the document nicely.' "
    "END"
)
_C4_L6 = (
    "CASE WHEN doc_id % 11 = 0 THEN "
    "'This page promotes casino gambling bonuses with betting strategies galore.' "
    "ELSE "
    "'Nothing objectionable appears anywhere within this harmless final line today.' "
    "END"
)

_C4_SQL = """
WITH pages AS (
    SELECT doc_id,
           {L0} AS l0, {L1} AS l1, {L2} AS l2, {L3} AS l3,
           {L4} AS l4, {L5} AS l5, {L6} AS l6
    FROM documents
),
gated AS (
    SELECT doc_id, l0, l1, l2, l3, l4, l5, l6,
           CASE WHEN lower(raw) LIKE '%lorem ipsum%'
                  OR raw LIKE '%{%'
                  OR ' ' || lower(raw) || ' ' LIKE '% casino %'
                  OR ' ' || lower(raw) || ' ' LIKE '% gambling %'
                THEN 0 ELSE 1 END AS page_ok
    FROM (
        SELECT doc_id, l0, l1, l2, l3, l4, l5, l6,
               l0 || chr(10) || l1 || chr(10) || l2 || chr(10) || l3
                  || chr(10) || l4 || chr(10) || l5 || chr(10) || l6 AS raw
        FROM pages
    ) t
),
lines AS (
    SELECT doc_id, page_ok, pos, line FROM (
        SELECT doc_id, page_ok, {EXPLODE}
        FROM gated
    ) t
),
kept AS (
    SELECT doc_id, pos, line
    FROM lines
    WHERE page_ok = 1
      AND {TERMPUNCT}
      AND {NWORDS} >= 5
      AND lower(line) NOT LIKE '%javascript%'
),
agg AS (
    SELECT doc_id,
           {REASSEMBLE} AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_lines_kept
    FROM kept GROUP BY doc_id
)
SELECT doc_id, clean_text, n_lines_kept,
       CAST(length(regexp_replace(clean_text, '[^.!?]', ''{G})) AS BIGINT)
           AS n_sentences
FROM agg
WHERE length(regexp_replace(clean_text, '[^.!?]', ''{G})) >= 3
ORDER BY doc_id
"""


def _c4_render(spark_side: bool) -> str:
    sql = (
        _C4_SQL
        .replace("{L0}", _C4_L0).replace("{L1}", _C4_L1)
        .replace("{L2}", _C4_L2).replace("{L3}", _C4_L3)
        .replace("{L4}", _C4_L4).replace("{L5}", _C4_L5)
        .replace("{L6}", _C4_L6)
    )
    if spark_side:
        return (
            sql
            .replace(
                "{EXPLODE}",
                "posexplode(array(l0, l1, l2, l3, l4, l5, l6)) AS (pos, line)",
            )
            .replace("{TERMPUNCT}", "line rlike '[.!?\"]$'")
            .replace("{NWORDS}", "size(split(line, ' +'))")
            .replace(
                "{REASSEMBLE}",
                "array_join(transform(array_sort(collect_list(struct(pos, "
                "line))), s -> s.line), chr(10))",
            )
            .replace("{G}", "")
        )
    return (
        sql
        .replace(
            "{EXPLODE}",
            "unnest(["
            "{'pos': 0, 'line': l0}, {'pos': 1, 'line': l1}, "
            "{'pos': 2, 'line': l2}, {'pos': 3, 'line': l3}, "
            "{'pos': 4, 'line': l4}, {'pos': 5, 'line': l5}, "
            "{'pos': 6, 'line': l6}], recursive := true)",
        )
        .replace("{TERMPUNCT}", "regexp_matches(line, '[.!?\"]$')")
        .replace("{NWORDS}", "len(string_split_regex(line, ' +'))")
        .replace("{REASSEMBLE}", "string_agg(line, chr(10) ORDER BY pos)")
        .replace("{G}", ", 'g'")
    )


_register(
    "text_c4_filters",
    _sql_query(
        _c4_render(spark_side=True),
        ("documents",),
        "C4 cleaning rules (Raffel et al. 2020 §2.2): terminal-punctuation "
        "+ >=5-word + no-javascript line filters, lorem-ipsum / curly-brace "
        "/ bad-word page gates, >=3-sentence minimum — page gates computed "
        "pre-explode and filtered scan-side, one reassembly groupBy",
        oracle=_c4_render(spark_side=False),
    ),
)


# C4's corpus-level dedup rule — "we discarded all but one of any
# three-sentence span occurring more than once in the data set" (Raffel et
# al. 2020 §2.2): documents explode into ordered sentences, every sliding
# 3-sentence span is fingerprinted, the globally FIRST occurrence of each
# span fingerprint (min (doc_id, start)) survives, and every sentence
# covered by a non-first duplicate span is excised before in-order
# reassembly. Differs from paragraph_dedup (unit = paragraph, first-wins
# per unit) and text_dup_span_removal (8-token grams removed EVERYWHERE):
# here the unit is a sentence triple and the first copy keeps its text.
# Synthesis: docs with doc_id % 10 < 3 share a per-residue 3-sentence block
# at positions 1-3 between unique opening/closing sentences, so the lowest
# doc_id of each residue group keeps the block and every later member loses
# exactly sentences 1-3.
# Scale shape: spans ride a lead() window over the (doc_id, pos) exchange;
# global first-wins is ONE row_number window partitioned by 16-byte span
# fingerprints (never all-pairs); coverage is a window MAX over the
# dup-start flags co-partitioned back on (doc_id, pos); sentence text
# crosses only the per-doc reassembly groupBy.

_SPAN_S0 = "'Opening sentence unique to document ' || CAST(doc_id AS {STR}) || '.'"
_SPAN_MID = (
    "CASE WHEN doc_id % 10 < 3 THEN "
    "'Shared span sentence {K} of group ' || CAST(doc_id % 10 AS {STR}) || '.' "
    "ELSE 'Middle sentence {K} unique to document ' || CAST(doc_id AS {STR}) "
    "|| '.' END"
)
_SPAN_S4 = "'Closing sentence unique to document ' || CAST(doc_id AS {STR}) || '.'"

_SPAN_DEDUP_SQL = """
WITH sents AS (
    SELECT doc_id, pos, sent FROM (
        SELECT doc_id, {EXPLODE}
        FROM documents
    ) t
),
spans AS (
    SELECT doc_id, pos AS start_pos,
           md5(sent || chr(31) || lead(sent, 1) OVER w || chr(31)
               || lead(sent, 2) OVER w) AS fp
    FROM sents
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
occurrences AS (
    SELECT doc_id, start_pos,
           row_number() OVER (PARTITION BY fp
                              ORDER BY doc_id, start_pos) AS occ
    FROM spans WHERE fp IS NOT NULL
),
flagged AS (
    SELECT s.doc_id, s.pos, s.sent,
           CASE WHEN o.occ > 1 THEN 1 ELSE 0 END AS dup_start
    FROM sents s
    LEFT JOIN occurrences o
      ON o.doc_id = s.doc_id AND o.start_pos = s.pos
),
covered AS (
    SELECT doc_id, pos, sent,
           MAX(dup_start) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
               AS is_covered
    FROM flagged
)
SELECT doc_id,
       {KEPT} AS kept_text,
       CAST(SUM(is_covered) AS BIGINT) AS n_removed
FROM covered
GROUP BY doc_id
ORDER BY doc_id
"""


def _span_render(spark_side: bool) -> str:
    str_t = "STRING" if spark_side else "VARCHAR"
    s0 = _SPAN_S0.replace("{STR}", str_t)
    mids = [
        _SPAN_MID.replace("{K}", k).replace("{STR}", str_t)
        for k in ("one", "two", "three")
    ]
    s4 = _SPAN_S4.replace("{STR}", str_t)
    if spark_side:
        explode = (
            "posexplode(array(" + ", ".join([s0, *mids, s4]) + ")) AS (pos, sent)"
        )
        kept = (
            "array_join(transform(array_sort(collect_list(struct(pos, sent)) "
            "FILTER (WHERE is_covered = 0)), s -> s.sent), ' ')"
        )
    else:
        parts = [s0, *mids, s4]
        explode = (
            "unnest(["
            + ", ".join(
                "{'pos': %d, 'sent': %s}" % (i, p) for i, p in enumerate(parts)
            )
            + "], recursive := true)"
        )
        kept = "string_agg(sent, ' ' ORDER BY pos) FILTER (WHERE is_covered = 0)"
    return _SPAN_DEDUP_SQL.replace("{EXPLODE}", explode).replace("{KEPT}", kept)


_register(
    "dedup_sentence_spans",
    _sql_query(
        _span_render(spark_side=True),
        ("documents",),
        "C4 three-sentence-span dedup (Raffel et al. 2020): globally "
        "first-wins per sliding sentence-triple fingerprint, covered "
        "sentences excised, docs reassembled in order — one fp window, "
        "one (doc_id,pos) co-partitioned coverage pass, never all-pairs",
        oracle=_span_render(spark_side=False),
    ),
)


# UT1-shape URL blocklist filtering (the adult/spam domain lists used by
# C4, RefinedWeb and FineWeb): a page is dropped iff its host OR ANY parent
# domain appears in the blocklist — suffix semantics, so blocking
# badzone.example removes every subdomain under it. Each host explodes into
# its <= |labels| domain suffixes (www.h7.example.com -> www.h7.example.com,
# h7.example.com, example.com, com) and meets the blocklist through one
# equality join on short strings; survivors come back via LEFT JOIN on
# doc_id. Hosts are synthesized over three residue classes so exact-host
# (h7.example.com), cross-TLD negative (h7.example.org stays), and
# subdomain-of-blocked (x*.ads.badzone.example) paths all fire.
# Scale shape: the real UT1 list (~4M domains) is broadcast (or bucket-
# joined on domain); fan-out is bounded by label count (<~6), and only
# (doc_id, short-suffix) pairs ever shuffle — never page bodies.

_URL_BLOCKLIST_SQL = """
WITH pages AS (
    SELECT doc_id, host, 'http://' || host || '/page'
               || CAST(doc_id AS {STR}) AS url
    FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN 'x' || CAST(doc_id % 30 AS {STR})
                         || '.ads.badzone.example'
                    WHEN doc_id % 3 = 0
                    THEN 'www.h' || CAST(doc_id % 50 AS {STR})
                         || '.example.com'
                    ELSE 'h' || CAST(doc_id % 50 AS {STR}) || '.example.org'
               END AS host
        FROM documents
    ) t
),
blocklist AS (
    SELECT domain FROM (VALUES ('h7.example.com'), ('h13.example.org'),
                               ('badzone.example')) AS b(domain)
),
sfx AS (
    {SFX_BODY}
),
hits AS (
    SELECT s.doc_id, MIN(b.domain) AS blocked_by
    FROM sfx s JOIN blocklist b ON b.domain = s.suffix
    GROUP BY s.doc_id
)
SELECT p.url, p.host, h.blocked_by,
       CAST(CASE WHEN h.blocked_by IS NULL THEN 1 ELSE 0 END AS BIGINT)
           AS kept
FROM pages p LEFT JOIN hits h ON h.doc_id = p.doc_id
ORDER BY p.url
"""

_SFX_SPARK = (
    "SELECT doc_id, explode(transform(sequence(1, size(parts)), "
    "i -> array_join(slice(parts, i, size(parts) - i + 1), '.'))) AS suffix "
    "FROM (SELECT doc_id, split(host, '[.]') AS parts FROM pages) q"
)
_SFX_DUCK = (
    "SELECT doc_id, unnest(list_transform(range(1, len(parts) + 1), "
    "i -> array_to_string(list_slice(parts, i, len(parts)), '.'))) AS suffix "
    "FROM (SELECT doc_id, string_split(host, '.') AS parts FROM pages) q"
)

_register(
    "url_blocklist_filter",
    _sql_query(
        _URL_BLOCKLIST_SQL.replace("{STR}", "STRING")
        .replace("{SFX_BODY}", _SFX_SPARK),
        ("documents",),
        "UT1-shape domain blocklist filter (C4/RefinedWeb/FineWeb): host "
        "suffix-expanded to parent domains, one equality join against the "
        "(broadcast-at-scale) blocklist, subdomains of blocked domains "
        "dropped — only (doc_id, suffix) pairs shuffle",
        oracle=_URL_BLOCKLIST_SQL.replace("{STR}", "VARCHAR")
        .replace("{SFX_BODY}", _SFX_DUCK),
    ),
)


# Incremental MinHash dedup — what a continuously-crawling corpus build
# actually runs every ingest round: the NEW batch (here doc_id % 3 = 0) is
# deduplicated against a persisted HISTORICAL fingerprint index (the other
# docs' band signatures — in production an Iceberg (j, mh, doc_id) table
# appended each round) WITHOUT recomputing anything over history, plus a
# within-batch pass for dups that arrive together. Candidates from both
# probes verify with integer-exact Jaccard >= 0.7 (10·∩ >= 7·∪ cross-
# multiply). Verdict per batch doc: 'dup_of_history' (dup_of = min matching
# history doc — history beats batch), 'dup_in_batch' (dup_of = min smaller
# verified batch doc; direct pairs, no transitive closure — that is
# dedup_fuzzy_e2e's job), or 'unique'.
# Scale shape: history costs ONE index equi-join on (j, mh) int pairs —
# never a signature recompute, never all-pairs (the index is bucketed by
# (j, mh) at rest, so the probe is co-partitioned); per-(j,mh) caps bound
# both probes; Jaccard re-reads shingle hashes for candidate ids only; the
# batch — tiny relative to history — is the only thing fingerprinted.
_INCR_MINHASH_TAIL = """
hist_index AS (
    SELECT doc_id, j, mh FROM mh_sigs WHERE doc_id % 3 <> 0
),
hist_buckets AS (
    SELECT j, mh FROM hist_index GROUP BY j, mh HAVING COUNT(*) <= {cap}
),
hist_ok AS (
    SELECT i.doc_id, i.j, i.mh
    FROM hist_index i JOIN hist_buckets hb ON hb.j = i.j AND hb.mh = i.mh
),
batch_sigs AS (
    SELECT doc_id, j, mh FROM mh_sigs WHERE doc_id % 3 = 0
),
hist_cand AS (
    SELECT DISTINCT b.doc_id AS new_id, h.doc_id AS old_id
    FROM batch_sigs b JOIN hist_ok h ON h.j = b.j AND h.mh = b.mh
),
batch_buckets AS (
    SELECT j, mh FROM batch_sigs
    GROUP BY j, mh HAVING COUNT(*) BETWEEN 2 AND {cap}
),
batch_in AS (
    SELECT s.doc_id, s.j, s.mh
    FROM batch_sigs s JOIN batch_buckets u ON s.j = u.j AND s.mh = u.mh
),
batch_cand AS (
    SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS old_id
    FROM batch_in a JOIN batch_in b
      ON a.j = b.j AND a.mh = b.mh AND a.doc_id < b.doc_id
),
all_cand AS (
    SELECT new_id, old_id, 1 AS from_hist FROM hist_cand
    UNION ALL
    SELECT new_id, old_id, 0 AS from_hist FROM batch_cand
),
cand_sizes AS (
    SELECT doc_id, COUNT(*) AS n FROM mh_exploded GROUP BY doc_id
),
cand_inter AS (
    SELECT c.new_id, c.old_id, c.from_hist, COUNT(*) AS overlap
    FROM all_cand c
    JOIN mh_exploded ea ON ea.doc_id = c.new_id
    JOIN mh_exploded eb ON eb.doc_id = c.old_id AND eb.h = ea.h
    GROUP BY c.new_id, c.old_id, c.from_hist
),
verified AS (
    SELECT i.new_id, i.old_id, i.from_hist
    FROM cand_inter i
    JOIN cand_sizes sa ON sa.doc_id = i.new_id
    JOIN cand_sizes sb ON sb.doc_id = i.old_id
    WHERE 10 * i.overlap >= 7 * (sa.n + sb.n - i.overlap)
),
best AS (
    SELECT new_id,
           MAX(from_hist) AS has_hist,
           MIN(CASE WHEN from_hist = 1 THEN old_id END) AS hist_of,
           MIN(CASE WHEN from_hist = 0 THEN old_id END) AS batch_of
    FROM verified GROUP BY new_id
)
SELECT d.doc_id,
       CASE WHEN b.has_hist = 1 THEN 'dup_of_history'
            WHEN b.new_id IS NOT NULL THEN 'dup_in_batch'
            ELSE 'unique' END AS verdict,
       CAST(CASE WHEN b.has_hist = 1 THEN b.hist_of
                 ELSE b.batch_of END AS BIGINT) AS dup_of
FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
LEFT JOIN best b ON b.new_id = d.doc_id
ORDER BY d.doc_id
"""


def _incr_minhash_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    _mh_views(spark, sf_dir)
    return spark.sql(
        "WITH " + _INCR_MINHASH_TAIL.format(cap=_LSH_BUCKET_CAP)
    )


_register(
    "dedup_incremental_minhash",
    QueryDef(
        build=_incr_minhash_build,
        oracle=_duck_mh_cte() + ","
        + _INCR_MINHASH_TAIL.format(cap=_LSH_BUCKET_CAP),
        doc="incremental MinHash dedup: the new batch probes a persisted "
            "historical band index (one (j,mh) equi-join, no history "
            "recompute) + within-batch pass; integer-exact Jaccard>=0.7 "
            "verify; history dup beats batch dup",
    ),
)


# OPIC (Abiteboul, Preda & Cobena, WWW 2003 "Adaptive On-Line Page
# Importance Computation"): the on-line counterpart to PageRank that real
# crawlers (e.g. Apache Nutch's OPIC scoring) used to prioritize fetches
# WITHOUT rerunning a full power iteration over the whole graph. Each node
# carries (cash, history): a visited node banks its cash into history and
# distributes it equally to its successors; dangling nodes hand their cash
# to a VIRTUAL node that redistributes uniformly, so total cash is conserved
# (modulo deterministic floor-division dust) and link-poor regions still get
# re-crawl pressure. Importance estimate after k rounds = history + cash;
# the CRAWL signal is `cash` itself — cash accumulated since last visit is
# exactly "how much new importance evidence arrived", so the fetch queue
# orders by cash desc (Nutch's "OPIC score").
#
# This is the synchronous batch variant (every node distributes each round)
# over the same deterministic host graph as host_pagerank: one join + one
# map-side-combinable aggregation per round over compact (id, cash, hist)
# triples — bodies/text never enter the loop, so at 10^9 hosts each round
# shuffles ~24 bytes/host. INTEGER arithmetic end-to-end (1e-12 units,
# floor division): bit-identical results regardless of partitioning or
# aggregation order, same rationale as host_pagerank. The Spark side loops
# the DataFrame (persisting each round's state — the state is referenced
# three times per round, so leaving it lazy would re-inline the whole
# prefix 3^k times); the oracle unrolls the identical rounds as CTEs.
_OPIC_ROUNDS = 5
_OPIC_HANDLES: dict[str, DataFrame] = {}


def _opic_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    for h in _OPIC_HANDLES.values():
        h.unpersist()
    _OPIC_HANDLES.clear()
    _load(spark, sf_dir, "documents")
    base = spark.sql(
        "WITH " + _PR_GRAPH_SQL.format(mod=_PR_MOD)
        + "SELECT e.src, e.dst, d.deg FROM edges e JOIN outdeg d ON d.id = e.src"
    ).persist()
    nodes = (
        base.select(F.col("src").alias("id"))
        .union(base.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    outdeg = base.select(F.col("src").alias("id"), "deg").distinct()
    _OPIC_HANDLES["base"] = base
    _OPIC_HANDLES["nodes"] = nodes
    cnt = nodes.agg(F.count("*").alias("n"))
    state = (
        nodes.crossJoin(cnt)
        .select(
            "id",
            (F.lit(_PR_SCALE) / F.col("n")).cast("bigint").alias("cash"),
            F.lit(0).cast("bigint").alias("hist"),
            "n",
        )
        .persist()
    )
    _OPIC_HANDLES["state0"] = state
    for k in range(_OPIC_ROUNDS):
        # successors receive floor(cash/deg) each; map-side combinable
        contrib = (
            base.join(state.select(F.col("id").alias("src"), "cash"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.floor(F.col("cash") / F.col("deg"))).alias("contrib"))
        )
        # dangling nodes (no out-edges) bank their cash with the virtual node
        virtual = (
            state.join(outdeg, "id", "left_anti")
            .agg(F.coalesce(F.sum("cash"), F.lit(0)).alias("vcash"))
        )
        new_state = (
            state.crossJoin(virtual)
            .join(contrib, "id", "left")
            .select(
                "id",
                (
                    F.coalesce("contrib", F.lit(0))
                    + F.floor(F.col("vcash") / F.col("n"))
                ).cast("bigint").alias("cash"),
                (F.col("hist") + F.col("cash")).cast("bigint").alias("hist"),
                "n",
            )
            # eager lineage truncation: the state feeds three consumers next
            # round (contrib join, dangling scan, hist carry), so a lazy
            # plan re-inlines the whole prefix 3^k times — Catalyst planning
            # alone OOMs the driver by round 5. The state is ~24 bytes/host;
            # checkpointing it per round is the scale-correct shape too.
            .localCheckpoint(eager=True)
        )
        state = new_state
    return state.select(
        F.col("id").alias("host_id"),
        F.col("cash").alias("cash_units"),
        F.col("hist").alias("hist_units"),
        (F.col("hist") + F.col("cash")).cast("bigint").alias("importance_units"),
    ).orderBy("host_id")


def _opic_oracle() -> str:
    parts = ["WITH " + _PR_GRAPH_SQL.format(mod=_PR_MOD)]
    parts.append(
        f", opic0 AS (SELECT id, {_PR_SCALE} // (SELECT n FROM cnt) AS cash,"
        " CAST(0 AS BIGINT) AS hist FROM nodes)"
    )
    for k in range(_OPIC_ROUNDS):
        parts.append(f""",
opic{k + 1} AS (
    SELECT n.id,
           COALESCE(s.contrib, 0)
           + (SELECT COALESCE(SUM(p.cash), 0)
              FROM opic{k} p LEFT JOIN outdeg d ON d.id = p.id
              WHERE d.deg IS NULL) // c.n AS cash,
           p0.hist + p0.cash AS hist
    FROM nodes n CROSS JOIN cnt c
    JOIN opic{k} p0 ON p0.id = n.id
    LEFT JOIN (
        SELECT e.dst AS id, SUM(p.cash // d.deg) AS contrib
        FROM edges e
        JOIN opic{k} p ON p.id = e.src
        JOIN outdeg d ON d.id = e.src
        GROUP BY e.dst
    ) s ON s.id = n.id
)""")
    parts.append(f"""
SELECT id AS host_id,
       CAST(cash AS BIGINT) AS cash_units,
       CAST(hist AS BIGINT) AS hist_units,
       CAST(hist + cash AS BIGINT) AS importance_units
FROM opic{_OPIC_ROUNDS} ORDER BY host_id""")
    return "".join(parts)


_register(
    "host_opic_priority",
    QueryDef(
        build=_opic_build,
        oracle=_opic_oracle(),
        doc="OPIC adaptive crawl importance (Abiteboul et al. WWW'03): "
            "synchronous cash/history rounds with virtual-node dangling "
            "redistribution, exact integer arithmetic; fetch priority = "
            "cash accumulated since last visit",
    ),
)


# Scale path for benchmark decontamination (same verdicts as
# decontam_ngram_overlap, different physical plan): when the eval/blocklist
# gram set is too large to broadcast as a join hash table (a full eval-suite
# union is ~10^9 distinct grams; GPT-3's 13-gram blocklist era), the
# broadcast-hash-join plan dies. This variant probes a Bloom bitmap of the
# eval grams map-side (`frontier.dedup.make_member_filter`) — bloom-negative
# train grams (the overwhelming majority) are discarded without ever
# shuffling — and only the positive slice (~fpp of the stream + true hits)
# meets the eval-gram table in an exact semi-join. No false negatives by
# Bloom construction, so the oracle is the EXACT decontam SQL: the driver
# gate green is the exactness proof.
def _decontam_bloom_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from frontier.dedup import make_member_filter

    _decontam_views(spark, sf_dir)
    eval_grams = spark.table("eval_grams")
    train = spark.sql(
        f"SELECT doc_id, gram FROM grams WHERE doc_id % {_DECON_EVAL_MOD} <> 0"
    )
    member = make_member_filter(
        eval_grams,
        key_col="gram",
        # sized for the test corpus; at a 10^9-gram blocklist pass the real
        # count and the flagger auto-shards the bitmap above the broadcast
        # budget (co-grouped probe, nothing collected or broadcast)
        expected_keys=200_000,
        fpp=0.01,
    )
    return (
        member(train)
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_contaminated_grams"))
        .orderBy("doc_id")
    )


_register(
    "decontam_bloom",
    QueryDef(
        build=_decontam_bloom_build,
        oracle=_DECON_ORACLE,
        doc="decontamination scale path: Bloom-bitmap prefilter over the "
            "eval gram set (map-side discard, no broadcast hash table) + "
            "exact semi-join confirm of the positives; oracle = the exact "
            "overlap SQL, so green == exactness",
    ),
)


# Distributed BPE merge learning (Sennrich et al. 2016 "Neural Machine
# Translation of Rare Words with Subword Units" — the byte-pair-encoding
# training loop behind GPT/Llama-family tokenizers). Classic BPE trains on
# the DISTINCT-WORD frequency table, not the corpus: tokenize, count words
# once (map-side combinable; the vocab table is corpus-bounded, ~10^8 rows
# at 100 TB while the corpus is 10^12 docs), then per round (a) count
# adjacent token pairs weighted by word frequency, (b) pick the globally
# most frequent pair (ties broken lexicographically — deterministic), and
# (c) merge that pair greedily left-to-right inside every word. The merge
# is the non-trivial distributed step: greedy non-overlapping left-to-right
# semantics ("aaa" with pair (a,a) -> ["aa","a"]) are exactly "keep the
# odd-indexed positions of each maximal run of consecutive matches", a
# gaps-and-islands window computation per word — no UDF, no driver loop
# over words. Each round costs one explode + one co-partitioned window pass
# + one reassembly groupBy over the vocab table only.
#
# Output = the learned merge table (step, lhs, rhs, merged, pair_count) —
# the artifact a tokenizer trainer ships. The oracle unrolls the identical
# rounds as DuckDB CTEs; the Spark side materializes per-round views
# (expl/best are each read twice per round — left lazy, the prefix would
# re-inline 2^k times, the same pathology documented at _decontam_views).
_BPE_ROUNDS = 4
_BPE_HANDLES: dict[str, DataFrame] = {}

_BPE_WORDS_SPARK = f"""
SELECT word, COUNT(*) AS cnt,
       transform(sequence(1, length(word)), i -> substr(word, i, 1)) AS toks
FROM (SELECT w.word FROM (SELECT {_SPARK_WORDS} AS words FROM documents) d
      LATERAL VIEW explode(words) w AS word)
GROUP BY word
"""
_BPE_WORDS_DUCK = f"""
SELECT word, COUNT(*) AS cnt,
       list_transform(range(1, length(word) + 1),
                      i -> substr(word, i, 1)) AS toks
FROM (SELECT unnest(words) AS word
      FROM (SELECT {_DUCK_WORDS} AS words FROM documents) d)
GROUP BY word
"""

_BPE_EXPL_SPARK = """
SELECT word, cnt, pos, tok,
       LEAD(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt
FROM (SELECT word, cnt, pos + 1 AS pos, tok
      FROM {tok} LATERAL VIEW posexplode(toks) u AS pos, tok)
"""
_BPE_EXPL_DUCK = """
SELECT word, cnt, pos, tok,
       LEAD(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt
FROM (SELECT word, cnt, i AS pos, toks[i] AS tok
      FROM {tok}, unnest(range(1, len(toks) + 1)) AS u(i))
"""

# globally best pair this round: weight = word frequency
_BPE_BEST = """
SELECT tok AS a, nxt AS b, SUM(cnt) AS total
FROM {expl} WHERE nxt IS NOT NULL
GROUP BY tok, nxt
ORDER BY total DESC, a ASC, b ASC LIMIT 1
"""

# greedy left-to-right merge of (a,b): within each maximal run of
# consecutive matched positions keep the 1st, 3rd, ... match; a kept match
# absorbs the following token (prev_kept drops it)
_BPE_MERGE = """
SELECT word, cnt, {reasm} AS toks
FROM (
  SELECT word, cnt, pos, newtok,
         LAG(kept) OVER (PARTITION BY word ORDER BY pos) AS prev_kept
  FROM (
    SELECT word, cnt, pos,
           CASE WHEN kept THEN a || b ELSE tok END AS newtok, kept
    FROM (
      SELECT word, cnt, pos, tok, a, b, is_m,
             (is_m AND (ROW_NUMBER() OVER (
                 PARTITION BY word, is_m, mgrp ORDER BY pos)) % 2 = 1)
             AS kept
      FROM (
        SELECT word, cnt, pos, tok, a, b, is_m,
               pos - ROW_NUMBER() OVER (
                   PARTITION BY word, is_m ORDER BY pos) AS mgrp
        FROM (
          SELECT e.word, e.cnt, e.pos, e.tok, bst.a, bst.b,
                 (e.tok = bst.a AND e.nxt = bst.b) AS is_m
          FROM {expl} e CROSS JOIN {best} bst
        ) f0
      ) f1
    ) f2
  ) f3
) f4
WHERE prev_kept IS NOT TRUE
GROUP BY word, cnt
"""
_BPE_REASM_SPARK = (
    "transform(array_sort(collect_list(struct(pos, newtok))), s -> s.newtok)"
)
_BPE_REASM_DUCK = "list(newtok ORDER BY pos)"

_BPE_FINAL = """
SELECT step, a AS lhs, b AS rhs, a || b AS merged,
       CAST(total AS BIGINT) AS pair_count
FROM ({steps})
ORDER BY step
"""


def _bpe_learn_views(spark: SparkSession, sf_dir: str) -> None:
    """Run the merge-learning loop, registering per-round views: the
    learned merges at ``bpe_best{1..K}`` and the per-word tokenization
    dictionary after all K merges at ``bpe_tok{K}``."""
    for h in _BPE_HANDLES.values():
        h.unpersist()
    _BPE_HANDLES.clear()
    _load(spark, sf_dir, "documents")
    tok = spark.sql(_BPE_WORDS_SPARK).persist()
    tok.createOrReplaceTempView("bpe_tok0")
    _BPE_HANDLES["tok0"] = tok
    for r in range(_BPE_ROUNDS):
        # eager lineage truncation (not a lazy persist): expl{r} is read
        # twice per round (best + merge) and tok{r+1} is itself consumed
        # downstream, so a lazy chain re-inlines the prefix 2^k times —
        # Catalyst planning alone OOMs the driver by round 4 (same
        # pathology as the OPIC loop, see _opic_build). The checkpointed
        # table is the per-round working set the loop recomputes anyway.
        expl = spark.sql(
            _BPE_EXPL_SPARK.format(tok=f"bpe_tok{r}")
        ).localCheckpoint(eager=True)
        expl.createOrReplaceTempView(f"bpe_expl{r}")
        best = spark.sql(
            _BPE_BEST.format(expl=f"bpe_expl{r}")
        ).localCheckpoint(eager=True)
        best.createOrReplaceTempView(f"bpe_best{r + 1}")
        tok = spark.sql(
            _BPE_MERGE.format(
                expl=f"bpe_expl{r}",
                best=f"bpe_best{r + 1}",
                reasm=_BPE_REASM_SPARK,
            )
        ).persist()
        tok.createOrReplaceTempView(f"bpe_tok{r + 1}")
        _BPE_HANDLES[f"tok{r + 1}"] = tok


def _bpe_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    _bpe_learn_views(spark, sf_dir)
    steps = " UNION ALL ".join(
        f"SELECT {r + 1} AS step, a, b, total FROM bpe_best{r + 1}"
        for r in range(_BPE_ROUNDS)
    )
    return spark.sql(_BPE_FINAL.format(steps=steps))


def _bpe_oracle() -> str:
    parts = [f"WITH tok0 AS ({_BPE_WORDS_DUCK})"]
    for r in range(_BPE_ROUNDS):
        parts.append(
            f", expl{r} AS ({_BPE_EXPL_DUCK.format(tok=f'tok{r}')})"
        )
        parts.append(f", best{r + 1} AS ({_BPE_BEST.format(expl=f'expl{r}')})")
        parts.append(
            f", tok{r + 1} AS ({_BPE_MERGE.format(expl=f'expl{r}', best=f'best{r + 1}', reasm=_BPE_REASM_DUCK)})"
        )
    steps = " UNION ALL ".join(
        f"SELECT {r + 1} AS step, a, b, total FROM best{r + 1}"
        for r in range(_BPE_ROUNDS)
    )
    parts.append(_BPE_FINAL.format(steps=steps))
    return "".join(parts)


_register(
    "bpe_train_merges",
    QueryDef(
        build=_bpe_build,
        oracle=_bpe_oracle(),
        doc="distributed BPE tokenizer training (Sennrich et al. 2016): "
            "4 merge-learning rounds over the distinct-word frequency "
            "table; greedy left-to-right pair merge as a gaps-and-islands "
            "window pass, no UDF, vocab-bounded shuffles only",
    ),
)


# BPE ENCODE — the apply side of bpe_train_merges, and the tokenizer-true
# replacement for the regex estimate in text_bpe_token_count: per-document
# token counts under the learned merge table. The scale shape is the key
# design point: merges are NOT applied to the corpus token stream (K window
# passes over 10^12 docs); they are applied once to the DISTINCT-WORD table
# (corpus-bounded, the same table the training loop already produces), which
# yields a word -> subword-tokenization dictionary, and the corpus then
# meets that dictionary in ONE equi-join on the word key. Per doc:
# n_bpe_tokens = sum over word occurrences of len(dict[word]). Docs whose
# token array is empty keep a 0 count via the left join-back.
_BPE_ENCODE_FINAL = """
SELECT d.doc_id, CAST(COALESCE(s.n, 0) AS BIGINT) AS n_bpe_tokens
FROM documents d
LEFT JOIN (
    SELECT w.doc_id, SUM({toklen}) AS n
    FROM ({word_stream}) w
    JOIN {dict} t ON t.word = w.word
    GROUP BY w.doc_id
) s ON s.doc_id = d.doc_id
ORDER BY d.doc_id
"""
_BPE_WORD_STREAM_SPARK = (
    "SELECT doc_id, u.word FROM "
    f"(SELECT doc_id, {_SPARK_WORDS} AS words FROM documents) x "
    "LATERAL VIEW explode(words) u AS word"
)
_BPE_WORD_STREAM_DUCK = (
    "SELECT doc_id, unnest(words) AS word FROM "
    f"(SELECT doc_id, {_DUCK_WORDS} AS words FROM documents) x"
)


def _bpe_encode_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    _bpe_learn_views(spark, sf_dir)
    return spark.sql(
        _BPE_ENCODE_FINAL.format(
            toklen="size(t.toks)",
            word_stream=_BPE_WORD_STREAM_SPARK,
            dict=f"bpe_tok{_BPE_ROUNDS}",
        )
    )


def _bpe_encode_oracle() -> str:
    # reuse the training CTE chain, then join the corpus word stream
    # against the final dictionary
    learn = _bpe_oracle()
    prefix = learn[: learn.rindex("\nSELECT step,")]
    return prefix + _BPE_ENCODE_FINAL.format(
        toklen="len(t.toks)",
        word_stream=_BPE_WORD_STREAM_DUCK,
        dict=f"tok{_BPE_ROUNDS}",
    )


_register(
    "bpe_encode_corpus",
    QueryDef(
        build=_bpe_encode_build,
        oracle=_bpe_encode_oracle(),
        doc="BPE apply: per-doc token counts under the learned merges — "
            "merges applied once to the distinct-word table, corpus joins "
            "the word->tokens dictionary on the word key (one equi-join, "
            "no corpus-wide window passes)",
    ),
)


# Rendezvous (HRW) crawler sharding — Thaler & Ravishankar 1998, the
# host-to-fetcher assignment rule in Mercator-style distributed crawlers:
# every (host, worker) pair gets a hash score and the host goes to the
# highest-scoring worker. The property that matters operationally is
# MINIMAL DISRUPTION: removing a worker reassigns only that worker's hosts
# (each surviving host's argmax is unchanged), so a fetcher crash never
# reshuffles the politeness queues of the other fetchers (tested). Scale
# shape: the Spark side is PURE CODEGEN per host row — the W=16 candidate
# scores live in one transform(sequence(...)) array expression and
# array_max picks the (score, worker) struct, so there is no explode, no
# join, and no shuffle proportional to W; only the presentation window/
# sort touches an exchange. The oracle reproduces the argmax relationally
# (explode + row_number) — same result, different (audit-friendly) shape.
_RENDEZVOUS_WORKERS = 16

_RENDEZVOUS_SPARK = f"""
WITH hosts AS (
    SELECT DISTINCT 'h' || CAST(user_id % 20 AS STRING) AS host FROM events
),
assigned AS (
    SELECT host,
           array_max(transform(sequence(0, {_RENDEZVOUS_WORKERS - 1}),
               w -> struct(md5(concat(host, ':', CAST(w AS STRING))) AS s,
                           w))).w AS worker
    FROM hosts
)
SELECT host, CAST(worker AS INT) AS worker,
       CAST(COUNT(*) OVER (PARTITION BY worker) AS BIGINT) AS hosts_on_worker
FROM assigned
ORDER BY host
"""

_RENDEZVOUS_ORACLE = f"""
WITH hosts AS (
    SELECT DISTINCT 'h' || CAST(user_id % 20 AS VARCHAR) AS host FROM events
),
scored AS (
    SELECT h.host, w.w AS worker,
           md5(h.host || ':' || CAST(w.w AS VARCHAR)) AS s
    FROM hosts h
    CROSS JOIN (SELECT unnest(range(0, {_RENDEZVOUS_WORKERS})) AS w) w
),
assigned AS (
    SELECT host, worker FROM (
        SELECT host, worker,
               ROW_NUMBER() OVER (PARTITION BY host
                                  ORDER BY s DESC, worker DESC) AS rn
        FROM scored
    ) r WHERE rn = 1
)
SELECT host, CAST(worker AS INT) AS worker,
       CAST(COUNT(*) OVER (PARTITION BY worker) AS BIGINT) AS hosts_on_worker
FROM assigned
ORDER BY host
"""


def _rendezvous_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    _load(spark, sf_dir, "events")
    return spark.sql(_RENDEZVOUS_SPARK)


_register(
    "host_shard_rendezvous",
    QueryDef(
        build=_rendezvous_build,
        oracle=_RENDEZVOUS_ORACLE,
        doc="rendezvous-hash (HRW) crawler sharding: host -> argmax-score "
            "fetcher as one codegen array expression per host (no explode/"
            "join); removing a worker moves only that worker's hosts",
    ),
)


# =============================================================================
# Sketch summaries (the frontier-monitoring family): a 10^10-URL frontier
# cannot afford exact per-host DISTINCT counts, exact global token counts,
# or a global sort for latency percentiles on every monitoring tick. The
# three canonical streaming-sketch shapes are expressed here as pure
# relational plans with integer-exact cross-engine arithmetic (no ln/exp/
# pow floats — the one constant, HLL's alpha_256, is a scaled rational and
# the estimate division is exact DECIMAL(38)/HUGEINT floor division).
# =============================================================================

# HyperLogLog (Flajolet et al. 2007) per-host distinct-URL cardinality,
# p=8 (m=256 registers). The register aggregation IS Spark's partial agg:
# per-partition maxes are the per-partition sketches and the shuffle merges
# them — exactly how HLL merges distribute (max is associative/commutative),
# so the only exchange carries <= 256 rows per host regardless of URL count.
# Hash = 56-bit md5 prefix: top 8 bits pick the register, rho = leading
# zeros of the low 48 bits + 1 via length(bin(x)) (both engines render
# minimal binary strings — no float log2). The estimate is the raw HLL
# formula E = alpha_m * m^2 / sum(2^-M_j) carried out entirely in scaled
# integers: each register contributes 2^(49-M_j) (zero registers 2^49), so
# S fits a BIGINT and E = (718272 * 65536 * 2^49) / (10^6 * S) runs in
# DECIMAL(38,0)/HUGEINT floor division — bit-identical across engines.
# Small-range linear counting (E <= 5m/2 with zero registers) needs ln and
# is intentionally out of scope: the synthesized per-host cardinalities sit
# in the raw-HLL band, and the zero_registers column is emitted so a caller
# can route to LC. Estimator quality (not just cross-engine equality) is
# pinned by tests/test_sketches.py against exact COUNT(DISTINCT).
_HLL_SQL = """
WITH urls AS (
    SELECT source AS host,
           'http://' || source || '.example.com/page/'
               || CAST((doc_id * 40 + i) % 4096 AS {STR}) AS url
    FROM documents{EXPLODE40}
),
hashed AS (
    SELECT host, CAST({H14} AS BIGINT) AS h FROM urls
),
regs AS (
    SELECT host,
           CAST(h {DIV} 281474976710656 AS INT) AS reg,
           h % 281474976710656 AS rem
    FROM hashed
),
rho AS (
    SELECT host, reg,
           MAX(CASE WHEN rem = 0 THEN 49
                    ELSE 49 - length(bin(rem)) END) AS m_j,
           COUNT(*) AS n_in_reg
    FROM regs GROUP BY host, reg
),
summed AS (
    SELECT host,
           CAST(SUM(n_in_reg) AS BIGINT) AS n_urls,
           COUNT(*) AS regs_hit,
           CAST(SUM({SHL49}) AS BIGINT) AS s_hit
    FROM rho GROUP BY host
)
SELECT host, n_urls,
       CAST(256 - regs_hit AS BIGINT) AS zero_registers,
       CAST(s_hit + (256 - regs_hit) * 562949953421312 AS BIGINT) AS s_scaled,
       CAST({EST} AS BIGINT) AS hll_est
FROM summed
ORDER BY host
"""

_HLL_SPARK = (
    _HLL_SQL
    .replace("{STR}", "STRING")
    .replace("{EXPLODE40}", " LATERAL VIEW explode(sequence(0, 39)) t AS i")
    .replace("{H14}", "conv(substr(md5(url), 1, 14), 16, 10)")
    .replace("{DIV}", "DIV")
    .replace("{SHL49}", "shiftleft(CAST(1 AS BIGINT), 49 - m_j)")
    .replace(
        "{EST}",
        "(CAST(718272 AS DECIMAL(38,0)) * 65536"
        " * CAST(562949953421312 AS DECIMAL(38,0)))"
        " div (CAST(1000000 AS DECIMAL(38,0))"
        " * (s_hit + (256 - regs_hit) * 562949953421312))",
    )
)

_HLL_ORACLE = (
    _HLL_SQL
    .replace("{STR}", "VARCHAR")
    .replace("{EXPLODE40}", ", unnest(range(0, 40)) AS t(i)")
    .replace("{H14}", "('0x' || substr(md5(url), 1, 14))")
    .replace("{DIV}", "//")
    .replace("{SHL49}", "1::BIGINT << (49 - m_j)")
    .replace(
        "{EST}",
        "(718272::HUGEINT * 65536 * 562949953421312::HUGEINT)"
        " // (1000000::HUGEINT"
        " * (s_hit + (256 - regs_hit) * 562949953421312)::HUGEINT)",
    )
)

_register(
    "host_url_hll",
    _sql_query(
        _HLL_SPARK,
        ("documents",),
        "HyperLogLog (p=8) per-host distinct-URL estimate: register maxes "
        "ride Spark's partial agg (<=256 rows/host cross the exchange), "
        "rho via length(bin()) and the alpha*m^2/S estimate in exact "
        "scaled-integer division - no floats anywhere",
        oracle=_HLL_ORACLE,
    ),
)


# Count-min sketch (Cormode & Muthukrishnan 2005) token heavy hitters:
# d=2 Kirsch-Mitzenmacher hash rows x w=16 columns (deliberately narrower
# than the vocabulary so collisions - the thing CMS is ABOUT - actually
# occur at test scale; est >= true is pinned by tests/test_sketches.py).
# Build shape at 10^10 tokens: occurrences partial-agg to (token, count)
# map-side, scatter into (row, col) cells - the cell table is d*w rows
# total (32 here), broadcastable anywhere; the probe side hashes its
# candidates and takes MIN over the d cells. No stage ever shuffles more
# than vocab-sized data, and the sketch itself is mergeable by cell-wise
# SUM (partial agg again).
_CMS_D = 2
_CMS_W = 16

_CMS_SQL = """
WITH toks AS (
    SELECT {WORDS} AS words FROM documents
),
t AS (
    SELECT w FROM {TOKSRC}
),
cnt AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY w
),
hashes AS (
    SELECT w, c,
           CAST({H1} AS BIGINT) AS h1,
           CAST({H2} AS BIGINT) | 1 AS h2
    FROM cnt
),
cells AS (
    SELECT i, (h1 + i * h2) % {W} AS col, CAST(SUM(c) AS BIGINT) AS cell
    FROM hashes{EXPLODED}
    GROUP BY i, (h1 + i * h2) % {W}
),
probes AS (
    SELECT w, h1, h2, {IVAR} AS i FROM hashes{EXPLODEDH}
),
est AS (
    SELECT p.w, MIN(cells.cell) AS cms_est
    FROM probes p
    JOIN cells ON cells.i = p.i AND cells.col = (p.h1 + p.i * p.h2) % {W}
    GROUP BY p.w
),
ranked AS (
    SELECT w, cms_est,
           row_number() OVER (ORDER BY cms_est DESC, w) AS rk
    FROM est
)
SELECT w AS token, cms_est, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 20
ORDER BY rk
"""


def _cms_fill(sql: str, spark: bool) -> str:
    if spark:
        return (
            sql
            .replace("{WORDS}", _SPARK_WORDS)
            .replace("{TOKSRC}", "toks LATERAL VIEW explode(words) t AS w")
            .replace("{H1}", "conv(substr(md5(w), 1, 14), 16, 10)")
            .replace("{H2}", "conv(substr(md5(w), 15, 14), 16, 10)")
            .replace(
                "{EXPLODED}",
                f" LATERAL VIEW explode(sequence(0, {_CMS_D - 1})) e AS i",
            )
            .replace(
                "{EXPLODEDH}",
                f" LATERAL VIEW explode(sequence(0, {_CMS_D - 1})) e AS i",
            )
            .replace("{IVAR}", "e.i")
            .replace("{W}", str(_CMS_W))
        )
    return (
        sql
        .replace("{WORDS}", _DUCK_WORDS)
        .replace("{TOKSRC}", "(SELECT unnest(words) AS w FROM toks) u")
        .replace("{H1}", "('0x' || substr(md5(w), 1, 14))")
        .replace("{H2}", "('0x' || substr(md5(w), 15, 14))")
        .replace("{EXPLODED}", f", unnest(range(0, {_CMS_D})) AS e(i)")
        .replace("{EXPLODEDH}", f", unnest(range(0, {_CMS_D})) AS e(i)")
        .replace("{IVAR}", "e.i")
        .replace("{W}", str(_CMS_W))
    )


_register(
    "token_cms_topk",
    _sql_query(
        _cms_fill(_CMS_SQL, spark=True),
        ("documents",),
        "count-min sketch (d=2, w=16) token heavy hitters: occurrences "
        "partial-agg map-side, scatter to a 32-cell mergeable sketch, "
        "probe = MIN over d cells; top-20 by estimate",
        oracle=_cms_fill(_CMS_SQL, spark=False),
    ),
)


# Exact nearest-rank latency quantiles per host (p50/p95/p99/max): the
# monitoring readout for per-host fetch politeness SLAs. Latencies are
# centi-unit integers (FLOOR(value*100 + 0.5) on identical IEEE doubles -
# deterministic in both engines; no round-half mode dependence), ranks are
# r_p = CEIL(p*n) nearest-rank (no interpolation -> no float results).
# Scale shape: ONE hash exchange on host, in-partition sort only (Spark
# window) - no global sort; per-host fetch-latency volumes are the thing
# that fits a partition by construction (politeness caps per-host rates).
# Ties in the sort carry equal values, so tie order cannot change any
# emitted quantile.
_QUANTILE_SQL = """
WITH lat AS (
    SELECT 'h' || CAST(user_id % 16 AS {STR}) AS host,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS lat_c
    FROM events
),
ranked AS (
    SELECT host, lat_c,
           row_number() OVER (PARTITION BY host ORDER BY lat_c) AS rn,
           COUNT(*) OVER (PARTITION BY host) AS n
    FROM lat
)
SELECT host, CAST(MAX(n) AS BIGINT) AS n,
       MAX(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT)
                THEN lat_c END) AS p50_c,
       MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT)
                THEN lat_c END) AS p95_c,
       MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT)
                THEN lat_c END) AS p99_c,
       MAX(lat_c) AS max_c
FROM ranked
GROUP BY host
ORDER BY host
"""

_register(
    "fetch_latency_quantiles",
    _sql_query(
        _QUANTILE_SQL.replace("{STR}", "STRING"),
        ("events",),
        "exact nearest-rank per-host latency quantiles (p50/p95/p99/max) "
        "in centi-unit integers: one host exchange, in-partition sort, "
        "no interpolation floats",
        oracle=_QUANTILE_SQL.replace("{STR}", "VARCHAR"),
    ),
)


# =============================================================================
# Publisher-declared dedup + sitemap protocol compliance
# =============================================================================

# rel=canonical duplicate-cluster collapse: mirror/tracking/session-param
# variants of one document all point <link rel=canonical> at the same
# target, so collapsing on it removes the duplicates the PUBLISHER itself
# identified — the cheapest dedup pass in every webtext pipeline, run
# before any content hashing. Kernel = frontier.pages.html_canonical (real
# HTMLParser: first-declaration-wins, rel token lists, <base href>
# resolution, decoys rejected); collapse = one groupBy on the canonical
# target. Scale shape: extraction is shuffle-free mapInPandas riding the
# scan; the only exchange carries (canonical_url, member) pairs — never
# bodies.
def _canonical_collapse_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pages import extract_canonical_links

    _load(spark, sf_dir, "documents")
    pages = spark.sql(
        """
        SELECT url, encode(page_html, 'utf-8') AS html FROM (
          SELECT 'http://' || source || '.example.com/p'
                   || CAST(doc_id AS STRING) AS url,
            CASE CAST(doc_id % 4 AS INTEGER)
              WHEN 0 THEN '<html><head><link rel="canonical" href="http://'
                || source || '.example.com/p' || CAST(doc_id AS STRING)
                || '"></head><body>x</body></html>'
              WHEN 1 THEN '<html><head><base href="/">'
                || '<link rel="canonical" href="p'
                || CAST(doc_id - 1 AS STRING) || '">'
                || '</head><body>x</body></html>'
              WHEN 2 THEN '<html><head><link rel="stylesheet" href="s.css">'
                || '</head><body>no canonical</body></html>'
              ELSE '<html><head>'
                || '<link rel="alternate canonical" href="/c'
                || CAST(doc_id % 10 AS STRING) || '">'
                || '<link rel="canonical" href="/WRONG-second-declaration">'
                || '</head><body>x</body></html>'
            END AS page_html
          FROM documents)
        """
    )
    links = extract_canonical_links(pages)
    links.createOrReplaceTempView("canon_links")
    return spark.sql(
        """
        SELECT canonical_url,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(CASE WHEN is_self THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_self,
               MIN(url) AS survivor
        FROM canon_links
        WHERE canonical_url IS NOT NULL
        GROUP BY canonical_url
        ORDER BY canonical_url
        """
    )


_CANONICAL_COLLAPSE_ORACLE = """
WITH links AS (
    SELECT 'http://' || source || '.example.com/p'
             || CAST(doc_id AS VARCHAR) AS url,
           CASE CAST(doc_id % 4 AS INTEGER)
             WHEN 0 THEN 'http://' || source || '.example.com/p'
               || CAST(doc_id AS VARCHAR)
             WHEN 1 THEN 'http://' || source || '.example.com/p'
               || CAST(doc_id - 1 AS VARCHAR)
             WHEN 2 THEN NULL
             ELSE 'http://' || source || '.example.com/c'
               || CAST(doc_id % 10 AS VARCHAR)
           END AS canonical_url,
           doc_id % 4 = 0 AS is_self
    FROM documents
)
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN is_self THEN 1 ELSE 0 END) AS BIGINT) AS n_self,
       MIN(url) AS survivor
FROM links
WHERE canonical_url IS NOT NULL
GROUP BY canonical_url
ORDER BY canonical_url
"""

_register(
    "url_canonical_collapse",
    QueryDef(
        build=_canonical_collapse_build,
        oracle=_CANONICAL_COLLAPSE_ORACLE,
        doc=(
            "rel=canonical duplicate-cluster collapse: real HTMLParser "
            "kernel (first declaration wins, rel token lists, base-href "
            "resolution) vs closed-form expected clusters; one groupBy on "
            "the canonical target, bodies never shuffle"
        ),
    ),
)


# Sitemap scope audit (sitemaps.org protocol "Sitemap file location"): a
# sitemap at http://h/catalog/sitemap.xml may only list URLs under
# http://h/catalog/ — EXCEPT sitemaps declared in robots.txt, whose scope
# widens to the whole host (the cross-submission rule). Out-of-scope
# entries are exactly how hostile sitemaps inject foreign URLs into a
# crawler's frontier, so the audit is a frontier admission gate, not a
# style check. Pure codegen: directory prefix via regexp, scope check via
# substr equality — no join, no UDF; at 10^10 entries this rides the
# sitemap-parse scan untouched.
_SCOPE_AUDIT_SQL = """
WITH entries AS (
    SELECT 'http://' || source || '.example.com'
             || CASE CAST(doc_id % 3 AS INTEGER)
                  WHEN 0 THEN '/sitemap.xml'
                  WHEN 1 THEN '/catalog/sitemap.xml'
                  ELSE '/a/b/sitemap.xml'
                END AS sitemap_url,
           doc_id % 5 = 0 AS declared_in_robots,
           'http://'
             || CASE WHEN doc_id % 7 = 0 THEN 'other.example.org'
                     ELSE source || '.example.com' END
             || CASE CAST(doc_id % 4 AS INTEGER)
                  WHEN 0 THEN '/catalog/item' || CAST(doc_id AS {STR})
                  WHEN 1 THEN '/images/img' || CAST(doc_id AS {STR})
                  WHEN 2 THEN '/a/b/page' || CAST(doc_id AS {STR})
                  ELSE '/p' || CAST(doc_id AS {STR})
                END AS page_url
    FROM documents
),
scoped AS (
    SELECT sitemap_url, page_url, declared_in_robots,
           regexp_replace(sitemap_url, '[^/]*$', '') AS scope_dir,
           regexp_extract(sitemap_url, '^https?://([^/]+)', 1) AS sitemap_host,
           regexp_extract(page_url, '^https?://([^/]+)', 1) AS page_host
    FROM entries
)
SELECT sitemap_url, page_url, declared_in_robots,
       CASE WHEN declared_in_robots THEN page_host = sitemap_host
            ELSE substr(page_url, 1, length(scope_dir)) = scope_dir
       END AS in_scope
FROM scoped
ORDER BY sitemap_url, page_url
"""

_register(
    "sitemap_scope_audit",
    _sql_query(
        _SCOPE_AUDIT_SQL.replace("{STR}", "STRING"),
        ("documents",),
        "sitemaps.org scope rule as a frontier admission gate: path-prefix "
        "scope per sitemap directory, widened to whole-host for robots.txt-"
        "declared sitemaps (cross-submission); pure codegen, no join",
        oracle=_SCOPE_AUDIT_SQL.replace("{STR}", "VARCHAR"),
    ),
)


# HITS hubs & authorities (Kleinberg 1999, "Authoritative sources in a
# hyperlinked environment") — the fourth member of the link-analysis
# family (host_pagerank / host_trustrank / host_opic_priority): crawl
# schedulers use AUTHORITY scores to prioritize content hosts and HUB
# scores to prioritize directory/aggregator hosts whose outlinks are worth
# re-scanning for discovery. Power iteration with L1 normalization each
# half-step (any norm works for power iteration — only the direction
# converges; L1 keeps the arithmetic in exact integers: the renormalizing
# floor(SCALE * raw / S) runs in DECIMAL(38)/HUGEINT, so both engines
# produce bit-identical units). Same compact loop shape as PageRank: per
# round, two (edge join + partial agg) passes over (id, score) pairs —
# never anything wider; per-round eager localCheckpoints stop the
# two-consumer plan re-expansion.
def _hits_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    _load(spark, sf_dir, "documents")
    edges = spark.sql(
        "WITH " + _PR_GRAPH_SQL.format(mod=_PR_MOD) + "SELECT src, dst FROM edges"
    ).persist()
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    _PR_HANDLES["hits_edges"] = edges
    _PR_HANDLES["hits_nodes"] = nodes
    cnt = nodes.agg(F.count("*").alias("n"))
    hub = nodes.crossJoin(cnt).select(
        "id", (F.lit(_PR_SCALE) / F.col("n")).cast("bigint").alias("s")
    )

    def _renorm(raw: DataFrame) -> DataFrame:
        # floor(SCALE * raw / sum(raw)) in DECIMAL(38,0): raw sums reach
        # n*SCALE and the product SCALE*raw would overflow BIGINT
        tot = raw.agg(F.sum("s_raw").alias("tot"))
        return (
            nodes.join(raw, "id", "left")
            .crossJoin(tot)
            .select(
                "id",
                F.expr(
                    f"CAST((CAST(coalesce(s_raw, 0) AS DECIMAL(38,0))"
                    f" * {_PR_SCALE}) div CAST(tot AS DECIMAL(38,0))"
                    f" AS BIGINT)"
                ).alias("s"),
            )
            .localCheckpoint(eager=True)
        )

    auth = None
    for _ in range(_PR_ROUNDS):
        auth = _renorm(
            edges.join(hub.select(F.col("id").alias("src"), "s"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("s").alias("s_raw"))
        )
        hub = _renorm(
            edges.join(auth.select(F.col("id").alias("dst"), "s"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("s").alias("s_raw"))
        )
    return (
        nodes.join(auth.select("id", F.col("s").alias("auth_units")), "id")
        .join(hub.select("id", F.col("s").alias("hub_units")), "id")
        .select(F.col("id").alias("host_id"), "auth_units", "hub_units")
        .orderBy("host_id")
    )


def _hits_cte_prefix() -> str:
    parts = ["WITH " + _PR_GRAPH_SQL.format(mod=_PR_MOD)]
    parts.append(
        f", hub0 AS (SELECT id, {_PR_SCALE} // (SELECT n FROM cnt) AS s FROM nodes)"
    )
    for k in range(_PR_ROUNDS):
        # MATERIALIZED: each *_raw CTE is referenced twice (join + the
        # renormalizing SUM subquery); DuckDB's default inlining would
        # re-evaluate the whole chain per reference -> 4^rounds blowup
        parts.append(f""",
auth{k + 1}_raw AS MATERIALIZED (
    SELECT e.dst AS id, SUM(h.s) AS s_raw
    FROM edges e JOIN hub{k} h ON h.id = e.src
    GROUP BY e.dst
),
auth{k + 1} AS MATERIALIZED (
    SELECT n.id,
           CAST((COALESCE(r.s_raw, 0)::HUGEINT * {_PR_SCALE})
                // (SELECT SUM(s_raw) FROM auth{k + 1}_raw)::HUGEINT
                AS BIGINT) AS s
    FROM nodes n LEFT JOIN auth{k + 1}_raw r ON r.id = n.id
),
hub{k + 1}_raw AS MATERIALIZED (
    SELECT e.src AS id, SUM(a.s) AS s_raw
    FROM edges e JOIN auth{k + 1} a ON a.id = e.dst
    GROUP BY e.src
),
hub{k + 1} AS MATERIALIZED (
    SELECT n.id,
           CAST((COALESCE(r.s_raw, 0)::HUGEINT * {_PR_SCALE})
                // (SELECT SUM(s_raw) FROM hub{k + 1}_raw)::HUGEINT
                AS BIGINT) AS s
    FROM nodes n LEFT JOIN hub{k + 1}_raw r ON r.id = n.id
)""")
    return "".join(parts)


_register(
    "host_hits_scores",
    QueryDef(
        build=_hits_build,
        oracle=_hits_cte_prefix()
        + f"\nSELECT n.id AS host_id, a.s AS auth_units, h.s AS hub_units "
          f"FROM nodes n JOIN auth{_PR_ROUNDS} a ON a.id = n.id "
          f"JOIN hub{_PR_ROUNDS} h ON h.id = n.id ORDER BY host_id",
        doc="HITS hubs & authorities (Kleinberg 1999): 5 L1-normalized "
            "power-iteration rounds in exact integer units; two edge-join "
            "+ partial-agg passes per round over (id, score) pairs only",
    ),
)


# URL-parameter rewrite-rule mining (Dasgupta et al., WWW'08 "De-duping
# URLs via rewrite rules"; the DUST problem — Different URLs with Similar
# Text): for each (host, parameter), group that host's URLs by "the URL
# with this parameter removed" and compare content fingerprints within
# each group. A parameter whose dup-groups always share one fingerprint is
# content-irrelevant (sessionids, tracking tags) and becomes a rewrite
# rule that collapses frontier URLs BEFORE fetching — the only dedup that
# saves the fetch itself, not just storage. Verdicts are evidence-based:
# no multi-URL group -> no_evidence; dup groups all clean -> irrelevant;
# any group with >1 fingerprint -> content_bearing. Scale shape: the
# per-(url, candidate-param) expansion is bounded by params-per-host
# (production mines the top-k parameter keys per host); every aggregation
# is map-side combinable over (host, param, group) keys; fingerprints are
# 32-hex strings — bodies never enter the pipeline.
_PARAM_MINE_SQL = """
WITH pages AS (
    SELECT DISTINCT
        source AS host,
        'http://' || source || '.example.com/item' AS path,
        CAST((doc_id {DIV} 20) % 7 AS {STR}) AS id_v,
        CAST((doc_id {DIV} 20) % 2 AS {STR}) AS page_v,
        's' || CAST(doc_id % 3 AS {STR}) AS sess_v,
        md5(source || ':' || CAST((doc_id {DIV} 20) % 7 AS {STR})
            || ':' || CAST((doc_id {DIV} 20) % 2 AS {STR})) AS fp
    FROM documents
),
urls AS (
    SELECT DISTINCT host, path,
           path || '?id=' || id_v || '&page=' || page_v
                || '&sessionid=' || sess_v AS url,
           id_v, page_v, sess_v, fp
    FROM pages
),
params AS (
    SELECT host, url, fp, 'id' AS pk, id_v AS pv FROM urls
    UNION ALL
    SELECT host, url, fp, 'page', page_v FROM urls
    UNION ALL
    SELECT host, url, fp, 'sessionid', sess_v FROM urls
),
candidates AS (
    SELECT DISTINCT host, pk AS cand FROM params
),
per_url_cand AS (
    SELECT p.host, p.url, c.cand, p.fp,
           {SORTJOIN} AS stripped
    FROM params p
    JOIN candidates c ON c.host = p.host
    GROUP BY p.host, p.url, c.cand, p.fp
),
groups AS (
    SELECT host, cand, stripped,
           COUNT(DISTINCT url) AS n_urls,
           COUNT(DISTINCT fp) AS n_fps
    FROM per_url_cand
    GROUP BY host, cand, stripped
)
SELECT host, cand AS param,
       CAST(SUM(CASE WHEN n_urls > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_groups,
       CAST(SUM(CASE WHEN n_urls > 1 AND n_fps > 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_leaky_groups,
       CASE WHEN SUM(CASE WHEN n_urls > 1 THEN 1 ELSE 0 END) = 0
              THEN 'no_evidence'
            WHEN SUM(CASE WHEN n_urls > 1 AND n_fps > 1 THEN 1 ELSE 0 END) = 0
              THEN 'irrelevant'
            ELSE 'content_bearing'
       END AS verdict
FROM groups
GROUP BY host, cand
ORDER BY host, param
"""

_register(
    "url_param_rewrite_mining",
    _sql_query(
        _PARAM_MINE_SQL
        .replace("{DIV}", "DIV")
        .replace("{STR}", "STRING")
        .replace(
            "{SORTJOIN}",
            "array_join(sort_array(collect_list("
            "CASE WHEN p.pk <> c.cand THEN p.pk || '=' || p.pv END)), '&')",
        ),
        ("documents",),
        "DUST rewrite-rule mining (Dasgupta et al. WWW'08): per (host, "
        "param), group URLs by the param-stripped form and compare content "
        "fingerprints - sessionid-style params come out 'irrelevant' and "
        "become pre-fetch URL collapse rules; map-side-combinable aggs "
        "over (host,param,group) keys, bodies never enter",
        oracle=_PARAM_MINE_SQL
        .replace("{DIV}", "//")
        .replace("{STR}", "VARCHAR")
        .replace(
            "{SORTJOIN}",
            "string_agg(CASE WHEN p.pk <> c.cand THEN p.pk || '=' || p.pv END,"
            " '&' ORDER BY p.pk || '=' || p.pv)",
        ),
    ),
)


# lastmod trust scoring: sitemap <lastmod> is publisher-asserted and
# frequently wrong (studies of sitemap accuracy consistently find hosts
# that bump lastmod on every request and hosts that never update it);
# recrawl planners therefore weight lastmod by an OBSERVED per-host trust
# score before letting it drive scheduling (recrawl_plan /
# conditional_fetch_plan compose with this). Signal: for consecutive
# captures of the same URL, did the content fingerprint change exactly
# when lastmod changed? trust_permille = 1000 * agreements / pairs.
# One (url) window for the lag pass, one (host) partial agg — compact
# (url, ts, fp, lastmod) tuples only.
_LASTMOD_TRUST_SQL = """
WITH captures AS (
    SELECT source AS host,
           'http://' || source || '.example.com/d' || CAST(doc_id AS {STR})
             AS url,
           cap.n AS capture_no,
           -- capture 2 bumps lastmod for doc_id % 3 != 0, and actually
           -- changes content for doc_id % 4 != 0 (so %3=0 xor %4=0 rows
           -- are the liar cases in both directions)
           CASE WHEN cap.n = 2 AND doc_id % 3 <> 0
                THEN 'lm2' ELSE 'lm1' END AS lastmod_tag,
           md5(CAST(doc_id AS {STR}) ||
               CASE WHEN cap.n = 2 AND doc_id % 4 <> 0
                    THEN ':v2' ELSE ':v1' END) AS fp
    FROM documents{CAPS}
),
pairs AS (
    SELECT host, url, capture_no, lastmod_tag, fp,
           lag(lastmod_tag) OVER (PARTITION BY url ORDER BY capture_no)
             AS prev_lm,
           lag(fp) OVER (PARTITION BY url ORDER BY capture_no) AS prev_fp
    FROM captures
),
judged AS (
    SELECT host,
           (lastmod_tag <> prev_lm) AS lm_changed,
           (fp <> prev_fp) AS fp_changed
    FROM pairs WHERE prev_lm IS NOT NULL
)
SELECT host,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN lm_changed THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lastmod_changed,
       CAST(SUM(CASE WHEN fp_changed THEN 1 ELSE 0 END) AS BIGINT)
         AS n_content_changed,
       CAST(SUM(CASE WHEN lm_changed = fp_changed THEN 1 ELSE 0 END)
            AS BIGINT) AS n_agree,
       CAST((1000 * SUM(CASE WHEN lm_changed = fp_changed THEN 1 ELSE 0 END))
            {DIV} COUNT(*) AS BIGINT) AS trust_permille
FROM judged
GROUP BY host
ORDER BY host
"""

_register(
    "lastmod_trust_score",
    _sql_query(
        _LASTMOD_TRUST_SQL
        .replace("{STR}", "STRING")
        .replace("{CAPS}", " LATERAL VIEW explode(array(1, 2)) cap AS n")
        .replace("{DIV}", "DIV"),
        ("documents",),
        "per-host lastmod trust: do consecutive captures change content "
        "exactly when lastmod changes? trust_permille feeds recrawl "
        "planning; one url-window lag pass + one host partial agg",
        oracle=_LASTMOD_TRUST_SQL
        .replace("{STR}", "VARCHAR")
        .replace("{CAPS}", ", (SELECT unnest(range(1, 3)) AS n) cap")
        .replace("{DIV}", "//"),
    ),
)


# Politeness-compliance audit: the retrospective twin of the politeness
# SCHEDULER (fetch_plan / adaptive_politeness plan budgets; this measures
# what the fetch log actually did). For each host: the minimum gap between
# consecutive fetches and how many gaps violated the host's required
# crawl delay — the report a crawl operator reads before a host's admin
# does. One (host) window lag pass over (host, ts) pairs + one partial
# agg; millisecond integer arithmetic end to end (unix_millis/epoch_ms
# truncate identically), no interval/float types cross an engine boundary.
_POLITE_AUDIT_SQL = """
WITH fetches AS (
    SELECT 'h' || CAST(user_id % 16 AS {STR}) AS host,
           30000 * (1 + (user_id % 16) % 5) AS required_gap_ms,
           {EPOCHMS} AS ts_ms
    FROM events
),
gaps AS (
    SELECT host, required_gap_ms,
           ts_ms - lag(ts_ms) OVER (PARTITION BY host ORDER BY ts_ms)
             AS gap_ms
    FROM fetches
)
SELECT host,
       CAST(MAX(required_gap_ms) AS BIGINT) AS required_gap_ms,
       CAST(COUNT(*) AS BIGINT) AS n_fetches,
       CAST(MIN(gap_ms) AS BIGINT) AS min_gap_ms,
       CAST(SUM(CASE WHEN gap_ms < required_gap_ms THEN 1 ELSE 0 END)
            AS BIGINT) AS n_violations,
       CAST((1000 * SUM(CASE WHEN gap_ms < required_gap_ms THEN 1 ELSE 0 END))
            {DIV} (COUNT(*) - 1) AS BIGINT) AS violation_permille
FROM gaps
GROUP BY host
ORDER BY host
"""

_register(
    "politeness_compliance_audit",
    _sql_query(
        _POLITE_AUDIT_SQL
        .replace("{STR}", "STRING")
        # NTZ -> TIMESTAMP is wall-clock reinterpretation in the session TZ;
        # the engine pins UTC sessions, so this equals DuckDB's epoch_ms
        .replace("{EPOCHMS}", "unix_millis(CAST(ts AS TIMESTAMP))")
        .replace("{DIV}", "DIV"),
        ("events",),
        "retrospective politeness audit: per-host min inter-fetch gap and "
        "crawl-delay violation rate from the fetch log; one host-window "
        "lag pass + one partial agg, integer milliseconds throughout",
        oracle=_POLITE_AUDIT_SQL
        .replace("{STR}", "VARCHAR")
        .replace("{EPOCHMS}", "epoch_ms(ts)")
        .replace("{DIV}", "//"),
    ),
)


# Latency-adaptive crawl delay (the IRLbot/Googlebot-documented heuristic:
# pace each host proportionally to its observed response time, so slow —
# i.e. loaded — servers automatically get gentler treatment without any
# robots.txt Crawl-delay): delay_ms = clamp(2 x p95 latency, 100..5000),
# budget per 30 s politeness round = 30000 div delay. Composes the
# nearest-rank quantile readout (fetch_latency_quantiles) into the
# scheduler's per-host-budget contract (fetch_plan_budgeted takes exactly
# this shape). Same scale profile as
# the quantile op: ONE host exchange, in-partition sort, integer
# arithmetic only.
_ADAPTIVE_DELAY_SQL = """
WITH lat AS (
    SELECT 'h' || CAST(user_id % 16 AS {STR}) AS host,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS lat_c
    FROM events
),
ranked AS (
    SELECT host, lat_c,
           row_number() OVER (PARTITION BY host ORDER BY lat_c) AS rn,
           COUNT(*) OVER (PARTITION BY host) AS n
    FROM lat
),
p95 AS (
    SELECT host,
           MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT)
                    THEN lat_c END) AS p95_c
    FROM ranked
    GROUP BY host
)
SELECT host, p95_c,
       -- centi-units -> ms is /100; doubled p95, clamped to [100, 5000] ms
       LEAST(5000, GREATEST(100, CAST((2 * p95_c) {DIV} 100 AS BIGINT)))
         AS delay_ms,
       CAST(30000 {DIV} LEAST(5000, GREATEST(100,
            CAST((2 * p95_c) {DIV} 100 AS BIGINT))) AS BIGINT)
         AS budget_per_round
FROM p95
ORDER BY host
"""

_register(
    "adaptive_delay_from_latency",
    _sql_query(
        _ADAPTIVE_DELAY_SQL.replace("{STR}", "STRING").replace("{DIV}", "DIV"),
        ("events",),
        "latency-adaptive politeness: delay = clamp(2*p95, 100..5000 ms) "
        "per host, budget = round_ms div delay - slow servers get gentler "
        "pacing automatically; one host exchange, integer arithmetic",
        oracle=_ADAPTIVE_DELAY_SQL.replace("{STR}", "VARCHAR")
        .replace("{DIV}", "//"),
    ),
)


# URL-normalization payoff (the operational capstone over the DUST mining
# verdicts): apply each host's mined 'irrelevant' parameters as rewrite
# rules — strip them, keep the rest in sorted order — and report how many
# frontier URLs collapse, i.e. how many FETCHES normalization saves
# before a single request is made. Same synthesized corpus as
# url_param_rewrite_mining, so the two operators' verdicts provably
# compose. Scale shape: mining aggregates as before; the apply side is
# one more groupBy per URL (rebuild from kept params) + one host rollup —
# everything on short strings, map-side combinable.
_PARAM_APPLY_SQL = """
WITH pages AS (
    SELECT DISTINCT
        source AS host,
        'http://' || source || '.example.com/item' AS path,
        CAST((doc_id {DIV} 20) % 7 AS {STR}) AS id_v,
        CAST((doc_id {DIV} 20) % 2 AS {STR}) AS page_v,
        's' || CAST(doc_id % 3 AS {STR}) AS sess_v,
        md5(source || ':' || CAST((doc_id {DIV} 20) % 7 AS {STR})
            || ':' || CAST((doc_id {DIV} 20) % 2 AS {STR})) AS fp
    FROM documents
),
urls AS (
    SELECT DISTINCT host, path,
           path || '?id=' || id_v || '&page=' || page_v
                || '&sessionid=' || sess_v AS url,
           id_v, page_v, sess_v, fp
    FROM pages
),
params AS (
    SELECT host, url, path, fp, 'id' AS pk, id_v AS pv FROM urls
    UNION ALL
    SELECT host, url, path, fp, 'page', page_v FROM urls
    UNION ALL
    SELECT host, url, path, fp, 'sessionid', sess_v FROM urls
),
candidates AS (
    SELECT DISTINCT host, pk AS cand FROM params
),
per_url_cand AS (
    SELECT p.host, p.url, c.cand, p.fp,
           {SORTJOIN_STRIP} AS stripped
    FROM params p
    JOIN candidates c ON c.host = p.host
    GROUP BY p.host, p.url, c.cand, p.fp
),
groups AS (
    SELECT host, cand, stripped,
           COUNT(DISTINCT url) AS n_urls,
           COUNT(DISTINCT fp) AS n_fps
    FROM per_url_cand
    GROUP BY host, cand, stripped
),
verdicts AS (
    SELECT host, cand,
           (SUM(CASE WHEN n_urls > 1 THEN 1 ELSE 0 END) > 0
            AND SUM(CASE WHEN n_urls > 1 AND n_fps > 1 THEN 1 ELSE 0 END) = 0)
             AS irrelevant
    FROM groups
    GROUP BY host, cand
),
rewritten AS (
    SELECT p.host, p.url,
           p.path || '?' || {SORTJOIN_KEEP} AS normalized_url
    FROM params p
    JOIN verdicts v ON v.host = p.host AND v.cand = p.pk
    GROUP BY p.host, p.url, p.path
)
SELECT host,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_urls_raw,
       CAST(COUNT(DISTINCT normalized_url) AS BIGINT) AS n_urls_normalized,
       CAST(COUNT(DISTINCT url) - COUNT(DISTINCT normalized_url) AS BIGINT)
         AS saved_fetches,
       CAST((1000 * (COUNT(DISTINCT url) - COUNT(DISTINCT normalized_url)))
            {DIV} COUNT(DISTINCT url) AS BIGINT) AS saved_permille
FROM rewritten
GROUP BY host
ORDER BY host
"""

_register(
    "url_normalize_savings",
    _sql_query(
        _PARAM_APPLY_SQL
        .replace("{DIV}", "DIV")
        .replace("{STR}", "STRING")
        .replace(
            "{SORTJOIN_STRIP}",
            "array_join(sort_array(collect_list("
            "CASE WHEN p.pk <> c.cand THEN p.pk || '=' || p.pv END)), '&')",
        )
        .replace(
            "{SORTJOIN_KEEP}",
            "array_join(sort_array(collect_list("
            "CASE WHEN NOT v.irrelevant THEN p.pk || '=' || p.pv END)), '&')",
        ),
        ("documents",),
        "URL normalization payoff: apply the mined irrelevant-param rewrite "
        "rules and count the frontier URLs (= fetches) that collapse; "
        "short-string groupBys only, composes with url_param_rewrite_mining",
        oracle=_PARAM_APPLY_SQL
        .replace("{DIV}", "//")
        .replace("{STR}", "VARCHAR")
        .replace(
            "{SORTJOIN_STRIP}",
            "string_agg(CASE WHEN p.pk <> c.cand THEN p.pk || '=' || p.pv END,"
            " '&' ORDER BY p.pk || '=' || p.pv)",
        )
        .replace(
            "{SORTJOIN_KEEP}",
            "string_agg(CASE WHEN NOT v.irrelevant THEN p.pk || '=' || p.pv END,"
            " '&' ORDER BY p.pk || '=' || p.pv)",
        ),
    ),
)


# Sitemap WRITING + round-trip (the publisher side of the protocol the
# whole engine consumes): a URL table renders into paginated urlset XML
# files (10 URLs/file here; 50,000/50 MB in production — same mechanism),
# and the generated documents are then parsed back by the engine's OWN
# expat kernel (frontier.parse.parse_sitemap_text — the byte-parity core
# the golden tests pin against the reference). The registered output is
# the PARSED records, and the DuckDB oracle reconstructs them straight
# from the source table: the comparison therefore proves writer and
# parser are exact inverses on every field (loc / W3C lastmod /
# changefreq / priority) — a full protocol round-trip, not a string
# check. Scale shape: one (host) window for pagination, one ordered-agg
# groupBy per file, then a shuffle-free mapInPandas parse; file bodies
# never cross an exchange after assembly.
_SITEMAP_WRITE_SQL = """
WITH recs AS (
    SELECT source AS host, doc_id,
           'http://' || source || '.example.com/p'
             || CAST(doc_id AS STRING) AS loc,
           format_string('2025-%02d-%02d',
                         CAST(1 + doc_id % 12 AS INT),
                         CAST(1 + doc_id % 28 AS INT)) AS lastmod,
           element_at(array('always','hourly','daily','weekly','monthly',
                            'yearly','never'), CAST(doc_id % 7 AS INT) + 1)
             AS cf,
           '0.' || CAST(doc_id % 10 AS STRING) AS pr,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
    FROM documents
),
entries AS (
    SELECT host, CAST((rn - 1) DIV 10 AS INT) AS file_no, doc_id,
           '<url><loc>' || loc || '</loc><lastmod>' || lastmod
             || '</lastmod><changefreq>' || cf || '</changefreq><priority>'
             || pr || '</priority></url>' AS entry
    FROM recs
)
SELECT 'http://' || host || '.example.com/sitemap_'
         || CAST(file_no AS STRING) || '.xml' AS sitemap_url,
       '<?xml version="1.0" encoding="UTF-8"?>'
         || '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
         || array_join(transform(
                sort_array(collect_list(struct(doc_id, entry))), e -> e.entry),
            '')
         || '</urlset>' AS xml
FROM entries
GROUP BY host, file_no
"""


def _sitemap_roundtrip_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import functions as F, types as T

    _load(spark, sf_dir, "documents")
    files = spark.sql(_SITEMAP_WRITE_SQL)

    schema = T.StructType(
        [
            T.StructField("sitemap_url", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("priority", T.StringType()),
            T.StructField("last_modified", T.StringType()),
            T.StructField("change_frequency", T.StringType()),
        ]
    )

    def kernel(batches):
        from frontier.parse import parse_sitemap_text

        for batch in batches:
            out = {k: [] for k in
                   ("sitemap_url", "url", "priority", "last_modified",
                    "change_frequency")}
            for su, xml in zip(batch["sitemap_url"], batch["xml"]):
                doc = parse_sitemap_text(su, xml)
                for p in doc.pages:
                    out["sitemap_url"].append(su)
                    out["url"].append(p["url"])
                    out["priority"].append(str(p["priority"]))
                    out["last_modified"].append(
                        p["last_modified"].strftime("%Y-%m-%d %H:%M:%S")
                        if p["last_modified"] else None
                    )
                    out["change_frequency"].append(p["change_frequency"])
            yield pd.DataFrame(out)

    return files.mapInPandas(kernel, schema).orderBy("url")


# expected parsed records reconstructed straight from the source table —
# writer ∘ parser must be the identity on every field
_SITEMAP_ROUNDTRIP_ORACLE = """
WITH recs AS (
    SELECT source AS host, doc_id,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
    FROM documents
)
SELECT 'http://' || host || '.example.com/sitemap_'
         || CAST((rn - 1) // 10 AS VARCHAR) || '.xml' AS sitemap_url,
       'http://' || host || '.example.com/p' || CAST(doc_id AS VARCHAR)
         AS url,
       '0.' || CAST(doc_id % 10 AS VARCHAR) AS priority,
       printf('2025-%02d-%02d 00:00:00',
              CAST(1 + doc_id % 12 AS INT),
              CAST(1 + doc_id % 28 AS INT)) AS last_modified,
       (['always','hourly','daily','weekly','monthly','yearly','never'])
         [CAST(doc_id % 7 AS INT) + 1] AS change_frequency
FROM recs
ORDER BY url
"""

_register(
    "sitemap_write_roundtrip",
    QueryDef(
        build=_sitemap_roundtrip_build,
        oracle=_SITEMAP_ROUNDTRIP_ORACLE,
        doc=(
            "sitemap WRITER + round-trip: URL table -> paginated urlset "
            "XML -> parsed back by the engine's own expat kernel; oracle "
            "reconstructs expected records from the source table, proving "
            "writer and parser are exact inverses on every field"
        ),
    ),
)


# KMV (k-minimum-values) distinct sketches with SET ALGEBRA — the
# Bar-Yossef et al. 2002 bottom-k sketch. Where HLL answers "how many
# distinct URLs", KMV sketches of two crawls additionally UNION (merge
# the bottom-k sets, re-take the bottom k) and estimate Jaccard overlap
# (fraction of the union sketch's members present in both input
# sketches), which makes it the sketch for CRAWL-OVER-CRAWL NOVELTY:
# "how many URLs did today's crawl add" without an exact distinct over
# either crawl. est = (k-1) * 2^56 / h_k (k-th smallest 56-bit hash),
# computed in DECIMAL(38)/HUGEINT exact division. The bottom-k selection
# is TWO-LEVEL — per (crawl, hash%64) bucket bottom-k first, then global
# bottom-k over the <=64k survivors — so no exchange ever carries more
# than bucket_count*k rows per crawl; this is the distributed top-k shape
# (partial TakeOrdered) written out relationally so both engines execute
# the identical reduction. Estimator quality pinned by test against the
# closed-form truth (|A|=10k, |B|=10k, overlap 5k).
_KMV_K = 256
_KMV_SQL = """
WITH urls AS (
    SELECT 'a' AS crawl,
           'u' || CAST(doc_id * 20 + i AS {STR}) AS url
    FROM documents{EXPLODE20}
    UNION ALL
    SELECT 'b', 'u' || CAST(doc_id * 20 + i + 5000 AS {STR})
    FROM documents{EXPLODE20B}
),
hashes AS (
    SELECT DISTINCT crawl, CAST({H14} AS BIGINT) AS h FROM urls
),
bucketed AS (
    SELECT crawl, h,
           row_number() OVER (PARTITION BY crawl, h % 64 ORDER BY h) AS brn
    FROM hashes
),
kmv AS (
    SELECT crawl, h, rn FROM (
        SELECT crawl, h,
               row_number() OVER (PARTITION BY crawl ORDER BY h) AS rn
        FROM bucketed WHERE brn <= {K}
    ) t WHERE rn <= {K}
),
kth AS (
    SELECT crawl, MAX(h) AS h_k FROM kmv GROUP BY crawl
),
union_kmv AS (
    SELECT h, rn FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM kmv) u
    ) t WHERE rn <= {K}
),
union_kth AS (
    SELECT MAX(h) AS h_k, COUNT(*) AS k_eff FROM union_kmv
),
jacc AS (
    SELECT COUNT(*) AS n_both
    FROM union_kmv u
    WHERE EXISTS (SELECT 1 FROM kmv a
                  WHERE a.crawl = 'a' AND a.h = u.h)
      AND EXISTS (SELECT 1 FROM kmv b
                  WHERE b.crawl = 'b' AND b.h = u.h)
),
ests AS (
    SELECT
        CAST({EST_A} AS BIGINT) AS est_a,
        CAST({EST_B} AS BIGINT) AS est_b,
        CAST({EST_U} AS BIGINT) AS est_union,
        (SELECT n_both FROM jacc) AS n_both,
        (SELECT k_eff FROM union_kth) AS k_eff
)
SELECT est_a, est_b, est_union,
       est_union - est_a AS novelty_est,
       CAST((1000 * n_both) {DIV} k_eff AS BIGINT) AS jaccard_permille
FROM ests
"""


def _kmv_fill(sql: str, spark: bool) -> str:
    two56 = 1 << 56
    if spark:
        est = (f"(CAST({_KMV_K - 1} AS DECIMAL(38,0)) * {two56}) div "
               "(SELECT h_k FROM {T} {W})")
        out = (
            sql
            .replace("{STR}", "STRING")
            .replace("{EXPLODE20}",
                     " LATERAL VIEW explode(sequence(0, 19)) t AS i")
            .replace("{EXPLODE20B}",
                     " LATERAL VIEW explode(sequence(0, 19)) t AS i")
            .replace("{H14}", "conv(substr(md5(url), 1, 14), 16, 10)")
            .replace("{EST_A}",
                     est.replace("{T}", "kth").replace("{W}", "WHERE crawl = 'a'"))
            .replace("{EST_B}",
                     est.replace("{T}", "kth").replace("{W}", "WHERE crawl = 'b'"))
            .replace("{EST_U}",
                     est.replace("{T}", "union_kth").replace("{W}", ""))
            .replace("{DIV}", "DIV")
        )
    else:
        est = (f"({_KMV_K - 1}::HUGEINT * {two56}::HUGEINT) // "
               "(SELECT h_k FROM {T} {W})::HUGEINT")
        out = (
            sql
            .replace("{STR}", "VARCHAR")
            .replace("{EXPLODE20}", ", unnest(range(0, 20)) AS t(i)")
            .replace("{EXPLODE20B}", ", unnest(range(0, 20)) AS t(i)")
            .replace("{H14}", "('0x' || substr(md5(url), 1, 14))")
            .replace("{EST_A}",
                     est.replace("{T}", "kth").replace("{W}", "WHERE crawl = 'a'"))
            .replace("{EST_B}",
                     est.replace("{T}", "kth").replace("{W}", "WHERE crawl = 'b'"))
            .replace("{EST_U}",
                     est.replace("{T}", "union_kth").replace("{W}", ""))
            .replace("{DIV}", "//")
        )
    return out.replace("{K}", str(_KMV_K))


_register(
    "crawl_novelty_kmv",
    _sql_query(
        _kmv_fill(_KMV_SQL, spark=True),
        ("documents",),
        "KMV bottom-k distinct sketches with set algebra: union + Jaccard "
        "across two crawls -> crawl-over-crawl novelty estimate without "
        "exact distincts; two-level bottom-k so no exchange carries more "
        "than buckets*k rows",
        oracle=_kmv_fill(_KMV_SQL, spark=False),
    ),
)


# RFC 9309 §2.3.1 robots status semantics as a gated operator: hosts are
# synthesized into the four status classes (2xx-with-rules / 5xx /
# 4xx / null-status network error) and page URLs flow through
# robots_rules_from_store + robots_filter. The oracle states the RFC
# outcome in closed form: 2xx hosts keep everything outside /private/,
# 4xx hosts keep everything (allowed-by-absence), 5xx and error hosts
# keep NOTHING (unreachable -> assume-disallow, the crawler-safe MAY
# branch of §2.3.1.4). Same scale shape as robots_rules_filter: rules
# snapshot is one row per host, URL side filtered in place.
def _robots_unreachable_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from frontier.robots import robots_filter, robots_rules_from_store

    _load(spark, sf_dir, "documents")
    store = spark.sql(
        """
        SELECT DISTINCT
            'http://' || source || '.example.com/robots.txt' AS url,
            CASE CAST(substr(source, 4) AS INT) % 4
              WHEN 0 THEN 200 WHEN 1 THEN 503 WHEN 2 THEN 404 END AS status,
            'text/plain' AS content_type,
            CASE WHEN CAST(substr(source, 4) AS INT) % 4 = 0
                 THEN encode('User-agent: *' || chr(10)
                             || 'Disallow: /private/' || chr(10), 'utf-8')
            END AS body
        FROM documents
        """
    )
    seeds = spark.sql(
        "SELECT DISTINCT 'http://' || source || '.example.com/' AS seed "
        "FROM documents"
    )
    urls = spark.sql(
        """
        SELECT 'http://' || source || '.example.com'
               || CASE WHEN doc_id % 2 = 0 THEN '/page' ELSE '/private/p' END
               || CAST(doc_id AS STRING) AS url
        FROM documents
        """
    )
    rules = robots_rules_from_store(seeds, store)
    return robots_filter(urls, rules).select("url").orderBy("url")


_ROBOTS_UNREACHABLE_ORACLE = """
WITH urls AS (
    SELECT 'http://' || source || '.example.com'
             || CASE WHEN doc_id % 2 = 0 THEN '/page' ELSE '/private/p' END
             || CAST(doc_id AS VARCHAR) AS url,
           CAST(substr(source, 4) AS INT) % 4 AS cls,
           doc_id % 2 = 0 AS is_page
    FROM documents
)
SELECT url FROM urls
WHERE cls = 2 OR (cls = 0 AND is_page)
ORDER BY url
"""

_register(
    "robots_unreachable_policy",
    QueryDef(
        build=_robots_unreachable_build,
        oracle=_ROBOTS_UNREACHABLE_ORACLE,
        doc="RFC 9309 robots status semantics: 2xx parses rules, 4xx is "
            "allowed-by-absence, 5xx/network-error is unreachable -> "
            "assume-disallow; oracle states the RFC outcome in closed form",
    ),
)


# Sitemapindex WRITING + round-trip — the index half of the protocol
# (sitemap_write_roundtrip covers the urlset half): the per-host leaf
# files the writer paginated into become <sitemapindex> documents, and
# parsing them back through the engine's expat kernel must recover the
# exact child list in declaration order (the same child ordering the wave
# engine's `seq` column preserves during crawls). Same shapes as the
# urlset writer: one ordered-agg groupBy per host, shuffle-free parse.
def _sitemap_index_roundtrip_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    _load(spark, sf_dir, "documents")
    idx = spark.sql(
        """
        WITH recs AS (
            SELECT source AS host,
                   row_number() OVER (PARTITION BY source ORDER BY doc_id)
                     AS rn
            FROM documents
        ),
        files AS (
            SELECT DISTINCT host, CAST((rn - 1) DIV 10 AS INT) AS file_no
            FROM recs
        )
        SELECT 'http://' || host || '.example.com/sitemap_index.xml'
                 AS index_url,
               '<?xml version="1.0" encoding="UTF-8"?>'
                 || '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                 || array_join(transform(sort_array(collect_list(struct(
                        file_no,
                        '<sitemap><loc>http://' || host
                          || '.example.com/sitemap_'
                          || CAST(file_no AS STRING) || '.xml</loc>'
                          || '<lastmod>'
                          || format_string('2025-06-%02d', 1 + file_no % 28)
                          || '</lastmod></sitemap>'))),
                      e -> e.col2), '')
                 || '</sitemapindex>' AS xml
        FROM files
        GROUP BY host
        """
    )

    schema = T.StructType(
        [
            T.StructField("index_url", T.StringType()),
            T.StructField("seq", T.IntegerType()),
            T.StructField("child_url", T.StringType()),
            T.StructField("child_lastmod", T.StringType()),
            T.StructField("kind", T.StringType()),
        ]
    )

    def kernel(batches):
        import re

        from frontier.parse import parse_sitemap_text

        lastmod_re = re.compile(r"<lastmod>([^<]*)</lastmod>")
        w3c_re = re.compile(r"^\d{4}-\d{2}-\d{2}$")
        cols = ("index_url", "seq", "child_url", "child_lastmod", "kind")
        for batch in batches:
            out = {k: [] for k in cols}
            for iu, xml in zip(batch["index_url"], batch["xml"]):
                doc = parse_sitemap_text(iu, xml)
                # The expat kernel keeps only child URLs (matching the
                # reference's index walk); the written <lastmod> is pulled
                # back positionally and W3C-validated so a malformed date
                # ('2025-06-010') can never round-trip silently.
                lastmods = lastmod_re.findall(xml)
                for seq, child in enumerate(doc.children):
                    lm = lastmods[seq] if seq < len(lastmods) else None
                    out["index_url"].append(iu)
                    out["seq"].append(seq)
                    out["child_url"].append(child)
                    out["child_lastmod"].append(
                        lm if lm is not None and w3c_re.match(lm) else None
                    )
                    out["kind"].append(doc.kind)
            yield pd.DataFrame(out)

    return idx.mapInPandas(kernel, schema).orderBy("index_url", "seq")


_SITEMAP_INDEX_ROUNDTRIP_ORACLE = """
WITH recs AS (
    SELECT source AS host,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
    FROM documents
),
files AS (
    SELECT DISTINCT host, CAST((rn - 1) // 10 AS INT) AS file_no FROM recs
)
SELECT 'http://' || host || '.example.com/sitemap_index.xml' AS index_url,
       file_no AS seq,
       'http://' || host || '.example.com/sitemap_'
         || CAST(file_no AS VARCHAR) || '.xml' AS child_url,
       printf('2025-06-%02d', 1 + file_no % 28) AS child_lastmod,
       'xml_index' AS kind
FROM files
ORDER BY index_url, seq
"""

_register(
    "sitemap_index_write_roundtrip",
    QueryDef(
        build=_sitemap_index_roundtrip_build,
        oracle=_SITEMAP_INDEX_ROUNDTRIP_ORACLE,
        doc=(
            "sitemapindex WRITER + round-trip (the index half of the "
            "protocol): per-host index documents parsed back by the "
            "engine's expat kernel recover the exact child list in "
            "declaration order"
        ),
    ),
)


# =============================================================================
# H. Round-4 capstone: the continuous-crawl lifecycle as ONE oracled operator.
# =============================================================================

# continuous_crawl_e2e — the north-rule sentence run across ROUNDS: the
# composition a real operator runs weekly, with every stage being the real
# engine machinery (never a restatement):
#
#   round-1 snapshot + persisted UrlSeenSet (record_seen + crash-safe
#   compact, frontier/dedup.py UrlSeenSet)
#     -> snapshot_diff change signal (frontier/pages.py:826 — map-side md5,
#        bodies never cross an exchange)
#     -> recrawl channel: changed ∪ changefreq-due unchanged
#        (recrawl_plan, frontier/schedule.py:90, column-only passthrough)
#     -> RFC 9110 conditional headers from round-1 validator state
#        (ETag-over-Last-Modified precedence, as conditional_fetch_plan)
#     -> discovery channel: the crawl's REAL seen-set filter (X1, the
#        exact anti-join) admitting exactly the URLs round 1 never crawled
#     -> fetch_plan_budgeted admission (frontier/robots.py:320 — salted
#        two-level per-host top-k under Crawl-delay-style budgets)
#     -> simulated fetch outcome (predicted 304s + bytes saved)
#     -> record_seen(admitted) + compact() -> round-2 seen table, re-read
#        from disk and joined back as `in_seen_after`.
#
# The oracle derives the ENTIRE round-2 admission — including the post-round
# seen-table membership — from round-1 state in closed form (doc_id
# arithmetic), so a defect in ANY stage (diff classes, due logic, validator
# choice, seen-set exactness, salted-rank/budget equivalence, the persisted
# table's post-compaction content) breaks the hash. Scale shape: text is
# collapsed to md5/octet_length in the scan projection and never carried;
# every exchange moves (url, fingerprint, metadata) rows only; admission is
# the salted bounded top-k; the seen table round-trips through parquet the
# way the 10^10-row dedup table would through Iceberg.
_CCRAWL_AS_OF = "2025-06-01 12:00:00"
_CCRAWL_DEFAULT_BUDGET = 6


def _continuous_crawl_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import functions as F

    from .dedup import UrlSeenSet
    from .pages import snapshot_diff
    from .robots import fetch_plan_budgeted
    from .schedule import recrawl_plan, with_canonical_host

    _load(spark, sf_dir, "documents")

    # Round-1 state: crawled snapshot + persisted seen table.
    old = spark.sql(
        """
        SELECT 'http://h' || CAST(doc_id % 23 AS STRING) || '.example.com/p'
                 || CAST(doc_id AS STRING) AS url,
               text
        FROM documents WHERE doc_id % 7 <> 0
        """
    )
    base = tempfile.mkdtemp(prefix="continuous-crawl-")
    seen = UrlSeenSet(spark, base + "/seen", expected_urls=1 << 17)
    seen.record_seen(old.select("url"))
    seen.compact()

    # Round-2 observed state: sitemap listing (metadata only — text is
    # collapsed to octet_length in the projection) and the new corpus the
    # diff fingerprints map-side.
    listing = spark.sql(
        """
        SELECT 'http://h' || CAST(doc_id % 23 AS STRING) || '.example.com/p'
                 || CAST(doc_id AS STRING) AS url,
               timestampadd(HOUR, - CAST(doc_id % 2000 AS INT),
                   TIMESTAMP '2025-06-01 00:00:00') AS lastmod,
               element_at(array('always','hourly','daily','weekly','monthly',
                   'yearly','never','purple'), CAST(doc_id % 8 AS INT) + 1)
                   AS changefreq,
               CAST(doc_id % 11 AS DOUBLE) / 10.0 AS priority,
               (doc_id % 2 = 0) AS has_etag,
               timestampadd(SECOND, CAST(doc_id AS INT),
                   TIMESTAMP '2025-01-01 00:00:00') AS last_fetch_ts,
               CAST(octet_length(text) + 26 AS BIGINT) AS n_bytes
        FROM documents WHERE doc_id % 5 <> 0
        """
    )
    new_corpus = spark.sql(
        """
        SELECT 'http://h' || CAST(doc_id % 23 AS STRING) || '.example.com/p'
                 || CAST(doc_id AS STRING) AS url,
               CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END
                 AS text
        FROM documents WHERE doc_id % 5 <> 0
        """
    )

    # Change signal between rounds (fingerprints only).
    diff = snapshot_diff(old, new_corpus)

    # Recrawl channel: changed ∪ changefreq-due unchanged, with the RFC 9110
    # validator rendered from round-1 state (old_fp IS the stored ETag).
    meta = listing.join(diff.filter(F.col("change") != "added"), "url")
    scored = recrawl_plan(
        meta,
        _CCRAWL_AS_OF,
        extra_cols=(
            "lastmod", "change", "old_fp", "has_etag", "last_fetch_ts",
            "n_bytes",
        ),
    )
    recrawl_cand = scored.filter(
        (F.col("change") == "changed")
        | ((F.col("change") == "unchanged") & F.col("due"))
    ).select(
        "url",
        F.col("lastmod").alias("last_modified"),
        "priority",
        "change",
        F.when(F.col("has_etag"), F.lit("if-none-match"))
        .otherwise(F.lit("if-modified-since"))
        .alias("strategy"),
        F.when(
            F.col("has_etag"),
            F.concat(F.lit('If-None-Match: "'), F.col("old_fp"), F.lit('"')),
        )
        .otherwise(
            F.concat(
                F.lit("If-Modified-Since: "),
                F.date_format("last_fetch_ts", "EEE, dd MMM yyyy HH:mm:ss"),
                F.lit(" GMT"),
            )
        )
        .alias("cond_header"),
        "n_bytes",
    )

    # Discovery channel: the REAL persisted seen-set (the crawl's exact
    # anti-join) — must admit exactly the URLs round 1 never crawled.
    discovered = seen.filter_unseen(listing).select(
        "url",
        F.col("lastmod").alias("last_modified"),
        "priority",
        F.lit("added").alias("change"),
        F.lit("unconditional").alias("strategy"),
        F.lit(None).cast("string").alias("cond_header"),
        "n_bytes",
    )

    # Pin the candidate set BEFORE the round mutates the seen table: the
    # discovery anti-join's lineage reads the round-1 parquet files, which
    # the post-round compact() replaces. Same discipline as the wave
    # engine's per-wave snapshots (state mutation invalidates lineage).
    candidates = with_canonical_host(
        recrawl_cand.unionByName(discovered), "url"
    ).localCheckpoint(eager=True)

    budgets = spark.sql(
        """
        SELECT DISTINCT
            'h' || CAST(doc_id % 23 AS STRING) || '.example.com' AS host,
            CAST(2 + CAST(doc_id % 23 AS INT) % 5 AS INT) AS fetch_budget
        FROM documents
        """
    )
    admitted = fetch_plan_budgeted(
        candidates,
        budgets,
        default_budget=_CCRAWL_DEFAULT_BUDGET,
        url_col="url",
        salt_buckets=4,
    ).select(
        "url",
        F.col("fetch_rank").cast("bigint").alias("fetch_rank"),
        F.col("fetch_budget").cast("bigint").alias("fetch_budget"),
    )

    # Round-2 crawl happens; the admitted URLs enter the seen table, which
    # is compacted and re-read from disk — in_seen_after is the NEXT
    # round's actual state, not a restatement of this round's plan.
    seen.record_seen(admitted.select("url"))
    seen.compact()
    post = spark.read.parquet(seen.path).select(
        "url", F.lit(True).alias("_in_seen")
    )

    return (
        candidates.join(admitted, "url", "left")
        .join(post, "url", "left")
        .select(
            "url",
            "canonical_host",
            "change",
            "strategy",
            "cond_header",
            "priority",
            "fetch_rank",
            "fetch_budget",
            F.col("fetch_rank").isNotNull().alias("admitted"),
            F.when(
                F.col("fetch_rank").isNotNull(),
                F.col("change") == "unchanged",
            ).alias("predicted_304"),
            F.when(
                F.col("fetch_rank").isNotNull(),
                F.when(F.col("change") == "unchanged", F.col("n_bytes"))
                .otherwise(F.lit(0)),
            )
            .cast("bigint")
            .alias("bytes_saved"),
            F.col("_in_seen").isNotNull().alias("in_seen_after"),
        )
        .orderBy("url")
    )


_CONTINUOUS_CRAWL_ORACLE = f"""
WITH listing AS (
    SELECT doc_id, text,
           'http://h' || CAST(doc_id % 23 AS VARCHAR) || '.example.com/p'
             || CAST(doc_id AS VARCHAR) AS url,
           'h' || CAST(doc_id % 23 AS VARCHAR) || '.example.com'
             AS canonical_host,
           TIMESTAMP '2025-06-01 00:00:00'
             - INTERVAL 1 HOUR * (doc_id % 2000) AS lastmod,
           (['always','hourly','daily','weekly','monthly','yearly','never',
             'purple'])[CAST(doc_id % 8 AS INT) + 1] AS changefreq,
           CAST(doc_id % 11 AS DOUBLE) / 10.0 AS priority,
           doc_id % 7 = 0 AS is_new,
           doc_id % 3 = 0 AS is_changed,
           doc_id % 2 = 0 AS has_etag,
           TIMESTAMP '2025-01-01 00:00:00'
             + INTERVAL 1 SECOND * doc_id AS last_fetch_ts
    FROM documents WHERE doc_id % 5 <> 0
),
scored AS (
    SELECT *,
           CASE WHEN is_new THEN 'added'
                WHEN is_changed THEN 'changed'
                ELSE 'unchanged' END AS change,
           CASE lower(trim(changefreq))
               WHEN 'never' THEN NULL
               WHEN 'always' THEN 300
               WHEN 'hourly' THEN 3600
               WHEN 'daily' THEN 86400
               WHEN 'weekly' THEN 604800
               WHEN 'monthly' THEN 2592000
               WHEN 'yearly' THEN 31536000
               ELSE 86400 END AS interval_s,
           date_diff('second', lastmod,
               TIMESTAMP '{_CCRAWL_AS_OF}') AS age_s
    FROM listing
),
cand AS (
    SELECT *,
           CASE WHEN is_new THEN 'unconditional'
                WHEN has_etag THEN 'if-none-match'
                ELSE 'if-modified-since' END AS strategy,
           CASE WHEN is_new THEN NULL
                WHEN has_etag THEN 'If-None-Match: "' || md5(text) || '"'
                ELSE 'If-Modified-Since: '
                  || strftime(last_fetch_ts, '%a, %d %b %Y %H:%M:%S GMT')
           END AS cond_header
    FROM scored
    WHERE is_new OR is_changed
          OR (interval_s IS NOT NULL AND age_s - interval_s >= 0)
),
ranked AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY canonical_host
               ORDER BY priority DESC, lastmod DESC, url) AS rk,
           2 + CAST(doc_id % 23 AS INT) % 5 AS budget
    FROM cand
)
SELECT url, canonical_host, change, strategy, cond_header, priority,
       CAST(CASE WHEN rk <= budget THEN rk END AS BIGINT) AS fetch_rank,
       CAST(CASE WHEN rk <= budget THEN budget END AS BIGINT)
         AS fetch_budget,
       rk <= budget AS admitted,
       CASE WHEN rk <= budget THEN change = 'unchanged' END AS predicted_304,
       CAST(CASE WHEN rk <= budget
                 THEN CASE WHEN change = 'unchanged'
                           THEN strlen(text) + 26 ELSE 0 END END AS BIGINT)
         AS bytes_saved,
       (NOT is_new) OR rk <= budget AS in_seen_after
FROM ranked
ORDER BY url
"""

_register(
    "continuous_crawl_e2e",
    QueryDef(
        build=_continuous_crawl_build,
        oracle=_CONTINUOUS_CRAWL_ORACLE,
        doc=(
            "continuous-crawl capstone: snapshot diff -> recrawl/discovery "
            "channels -> conditional headers -> REAL persisted seen-set -> "
            "budgeted salted admission -> post-round seen table, with the "
            "whole round-2 admission derived from round-1 state in closed "
            "form"
        ),
    ),
)
