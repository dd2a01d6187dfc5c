"""R9 — per-host politeness budgets + fetch priority queue (north rule).

The reference fetches sequentially with an optional inter-request sleep
(``RequestWaiter``, usp/web_client/abstract_client.py:223-253). At cluster
scale the analogue is: co-locate each host's URLs (range partition on
canonical host), order within host by (priority desc, lastmod desc), and cap
each host at its politeness budget per round. Mega-host skew is handled by
salting the rank computation: ranks are computed per (host, salt) bucket and
merged, so no single task ever holds a whole mega-host.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def with_canonical_host(df: DataFrame, url_col: str = "page_url") -> DataFrame:
    """Lower-cased hostname as the politeness partition key (D2 analogue).

    Regex-extracted (:func:`frontier.urlnorm.host_expr`) — never throws on
    the malformed URLs a web corpus contains, and agrees with the robots
    engine's host derivation so rules, budgets and the plan all key on the
    same string."""
    from frontier.urlnorm import host_expr

    return df.withColumn("canonical_host", host_expr(url_col))


def fetch_plan(
    pages: DataFrame,
    budget_per_host: int,
    url_col: str = "page_url",
    salt_buckets: int = 0,
    ordered: tuple | None = None,
) -> DataFrame:
    """Next-round fetch plan: top-``budget_per_host`` URLs per host ordered by
    (priority desc, last_modified desc, url) — the north rule's priority
    queue.  Pass ``ordered`` (a tuple of Column sort keys forming a TOTAL
    order) to rank by a different urgency, e.g. recrawl overdue-ness.

    ``salt_buckets > 0`` enables mega-host skew handling: a two-level top-k —
    per (host, salt) bucket first (parallel, bounded state), then a cheap
    merge rank over at most ``salt_buckets * budget`` survivors per host.
    Both levels use the same total order, so the result is identical to the
    unsalted plan.
    """
    if ordered is None:
        ordered = (F.col("priority").desc(),
                   F.col("last_modified").desc_nulls_last(), F.col(url_col))
    df = with_canonical_host(pages, url_col)

    if salt_buckets > 0:
        df = df.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt_buckets))
        )
        bucket_rank = F.row_number().over(
            Window.partitionBy("canonical_host", "_salt").orderBy(*ordered)
        )
        df = (
            df.withColumn("_bucket_rank", bucket_rank)
            .filter(F.col("_bucket_rank") <= budget_per_host)
            .drop("_salt", "_bucket_rank")
        )

    rank = F.row_number().over(Window.partitionBy("canonical_host").orderBy(*ordered))
    return (
        df.withColumn("fetch_rank", rank)
        .filter(F.col("fetch_rank") <= budget_per_host)
    )


# Sitemap <changefreq> → recrawl interval. The reference parses the enum
# (usp/objects/page.py SitemapPageChangeFrequency: ALWAYS..NEVER) but leaves
# scheduling to the caller; this is the scheduling half. 'always' is clamped
# to 5 min (politeness floor), 'never' means no recrawl, anything the enum
# doesn't recognize falls back to daily — matching the reference's behavior
# of treating invalid changefreq as absent.
CHANGEFREQ_INTERVAL_S: dict[str, int] = {
    "always": 300,
    "hourly": 3_600,
    "daily": 86_400,
    "weekly": 604_800,
    "monthly": 2_592_000,
    "yearly": 31_536_000,
}
DEFAULT_RECRAWL_INTERVAL_S = 86_400


def recrawl_plan(
    frontier: DataFrame,
    as_of: str,
    url_col: str = "url",
    lastmod_col: str = "lastmod",
    changefreq_col: str = "changefreq",
    priority_col: str = "priority",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Changefreq-driven recrawl plan: which frontier URLs are due at
    ``as_of`` and by how much.

    Output per URL: ``changefreq_norm`` (lowercased/trimmed spelling),
    ``interval_s`` (NULL for 'never'), ``overdue_s`` (seconds past the next
    due instant; negative = not yet due, NULL for 'never'), ``due``
    (boolean, always false for 'never'), plus the carried priority.

    Pure column expressions — no UDF, no shuffle; whole-stage codegen end
    to end.  Due rows feed :func:`fetch_plan` for the per-host politeness
    top-k, so the global "sort by urgency" never happens: urgency ordering
    is only ever materialized within a host partition.

    ``extra_cols`` names input columns carried through unchanged (e.g. the
    raw lastmod, change class, or validator state a downstream admission
    stage needs) — a projection, never a join, so composing stages stays
    shuffle-free.
    """
    freq = F.lower(F.trim(F.col(changefreq_col)))
    interval = F.when(freq == "never", F.lit(None).cast("bigint"))
    for name, seconds in CHANGEFREQ_INTERVAL_S.items():
        interval = interval.when(freq == name, F.lit(seconds))
    interval = interval.otherwise(F.lit(DEFAULT_RECRAWL_INTERVAL_S))
    age_s = F.unix_timestamp(F.to_timestamp(F.lit(as_of))) - F.unix_timestamp(
        F.col(lastmod_col)
    )
    overdue = (age_s - interval).cast("bigint")
    due = F.when(interval.isNull(), F.lit(False)).otherwise(overdue >= 0)
    return frontier.select(
        F.col(url_col),
        freq.alias("changefreq_norm"),
        interval.alias("interval_s"),
        overdue.alias("overdue_s"),
        due.alias("due"),
        F.col(priority_col),
        *[F.col(c) for c in extra_cols],
    )
