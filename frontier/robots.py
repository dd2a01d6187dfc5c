"""RFC 9309 robots.txt rules engine — Allow / Disallow / Crawl-delay.

The reference only reads ``Sitemap:`` directives out of robots.txt
(usp/fetch_parse.py:295-377); the north rule additionally demands
"per-host politeness budgets plus robots.txt rules drive a priority
queue".  This module supplies the rules side, Spark-first:

1. **parse** (:func:`parse_robots_rules`) — robots bodies → one compact row
   per host: the rule group that applies to OUR user agent, pre-compiled to
   ``array<struct<pattern, rx, plen, allow>>`` plus ``crawl_delay``.  The
   line-oriented group grammar (RFC 9309 §2.1–2.2) is genuinely not SQL, so
   this one step is an Arrow-batched kernel — but its input is one row per
   HOST (10⁸ at Common-Crawl scale), never per URL (10¹⁰), and its output is
   a few hundred bytes per host.

2. **match** (:func:`robots_filter`) — the 10¹⁰-row URL side is touched by
   exactly ONE equi-join on host (broadcast when the rules snapshot is
   small; shuffle otherwise) followed by pure column expressions:
   ``filter()`` the per-host rule array by ``rlike``, ``array_max`` over
   ``struct(plen, allow)`` picks the longest match with Allow winning ties
   (RFC 9309 §2.2.2: "most specific match … least restrictive on a tie").
   No Python in the URL hot path, no groupBy, no explode.

3. **budget** (:func:`host_budgets_from_delay`,
   :func:`fetch_plan_budgeted`) — ``Crawl-delay: N`` becomes a per-host
   per-round fetch budget ``floor(round_seconds / N)`` feeding the R9
   priority queue (frontier/schedule.py) as a per-host ``k`` instead of a
   global constant.

Pattern language (RFC 9309 §2.2.3): ``*`` matches any run of characters,
``$`` anchors the end of the URL path; everything else is literal.  Matching
is against the percent-decoded-as-received path plus ``?query`` when
present, case-sensitively.  An empty Disallow value is a no-op group line
(explicit "allow all"), so it compiles to no rule.
"""

from __future__ import annotations

import os
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T
from pyspark.sql.window import Window

DEFAULT_USER_AGENT = "frontierbot"

#: Compiled per-host group: one struct per rule, pre-translated to a Java/RE2
#: compatible regex so the match side stays inside whole-stage codegen.
ROBOTS_RULES_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), nullable=False),
        T.StructField("crawl_delay", T.DoubleType()),
        T.StructField(
            "rules",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("pattern", T.StringType()),
                        T.StructField("rx", T.StringType()),
                        T.StructField("plen", T.IntegerType()),
                        T.StructField("allow", T.BooleanType()),
                    ]
                )
            ),
        ),
    ]
)

_LINE_RE = re.compile(r"^\s*([A-Za-z-]+)\s*:\s*(.*?)\s*$")

# Characters that are regex metacharacters in both Python re and Java
# java.util.regex; escaped one-by-one so the SAME rx string compiles
# identically on both sides (re.escape would also escape e.g. '-' in a way
# that is harmless but noisy).
_REGEX_SPECIALS = set("\\.^$+?{}[]|()")


def compile_pattern(pattern: str) -> str:
    """RFC 9309 path pattern → anchored regex usable by Python and Java.

    ``*`` → ``.*``; a trailing ``$`` anchors; other characters are literal.
    A ``$`` anywhere else is literal (escaped).
    """
    out = ["^"]
    chars = pattern
    end_anchor = False
    if chars.endswith("$"):
        end_anchor = True
        chars = chars[:-1]
    for ch in chars:
        if ch == "*":
            out.append(".*")
        elif ch in _REGEX_SPECIALS:
            out.append("\\" + ch)
        else:
            out.append(ch)
    if end_anchor:
        out.append("$")
    return "".join(out)


def parse_robots_body(body: str, user_agent: str = DEFAULT_USER_AGENT):
    """Parse one robots.txt body; return (crawl_delay, rules) for the group
    that applies to ``user_agent``.

    Group selection per RFC 9309 §2.2.1: collect every group whose
    user-agent line is a case-insensitive substring of our product token,
    keep the most specific (longest) matching agent string; fall back to the
    ``*`` group; no group → everything allowed (empty rule list).  All
    groups sharing the winning agent merge (rules concatenate in file
    order).

    Returns ``(crawl_delay: float | None, rules: list[(pattern, rx, plen,
    allow)])``.
    """
    ua = user_agent.lower().split("/", 1)[0].strip()
    # group accumulation: list of (agents: list[str], rules, delay)
    groups: list[dict] = []
    current: dict | None = None
    agents_open = False  # consecutive user-agent lines extend the same group
    for raw_line in body.splitlines():
        line = raw_line.split("#", 1)[0]
        m = _LINE_RE.match(line)
        if not m:
            continue
        key = m.group(1).lower()
        value = m.group(2)
        if key == "user-agent":
            if not agents_open:
                current = {"agents": [], "rules": [], "delay": None}
                groups.append(current)
                agents_open = True
            # an empty agent value matches nothing — '' is a substring of
            # every product token, so keeping it would hijack group
            # selection from the '*' group (review-caught)
            if value:
                current["agents"].append(value.lower())
            continue
        agents_open = False
        if current is None:
            # rules before any user-agent line belong to no group (RFC:
            # crawlers MUST ignore them)
            continue
        if key in ("allow", "disallow"):
            if value == "":
                continue  # empty pattern matches nothing (explicit allow-all)
            current["rules"].append(
                (value, compile_pattern(value), len(value), key == "allow")
            )
        elif key == "crawl-delay":
            try:
                current["delay"] = float(value)
            except ValueError:
                pass

    best_agent: str | None = None
    for g in groups:
        for agent in g["agents"]:
            if agent != "*" and agent in ua:
                if best_agent is None or len(agent) > len(best_agent):
                    best_agent = agent
    chosen = best_agent if best_agent is not None else "*"
    rules: list[tuple] = []
    delay = None
    for g in groups:
        if chosen in g["agents"]:
            rules.extend(g["rules"])
            if g["delay"] is not None and delay is None:
                delay = g["delay"]
    return delay, rules


def parse_robots_rules(
    robots: DataFrame,
    user_agent: str = DEFAULT_USER_AGENT,
    host_col: str = "host",
    body_col: str = "body",
) -> DataFrame:
    """robots.txt bodies → compact per-host rules snapshot
    (:data:`ROBOTS_RULES_SCHEMA`).

    Input: one row per host with a text ``body`` column.  Output: one row
    per host — small enough to broadcast for most crawls and to join on
    ``host`` at Common-Crawl scale.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield _rules_frame(batch[host_col], batch[body_col], user_agent)

    return robots.select(host_col, body_col).mapInPandas(
        kernel, ROBOTS_RULES_SCHEMA
    )


def _rules_frame(hosts, bodies, user_agent: str) -> pd.DataFrame:
    """One batch of (host, body-text) → a :data:`ROBOTS_RULES_SCHEMA` frame
    — the single packing implementation both rule kernels share."""
    out_hosts, delays, rule_lists = [], [], []
    for host, body in zip(hosts, bodies):
        delay, rules = parse_robots_body(body or "", user_agent)
        out_hosts.append(host)
        delays.append(delay)
        rule_lists.append(
            [
                {"pattern": p, "rx": rx, "plen": plen, "allow": allow}
                for (p, rx, plen, allow) in rules
            ]
        )
    return pd.DataFrame(
        {"host": out_hosts, "crawl_delay": delays, "rules": rule_lists}
    )


def _match_path(url_col: Column) -> Column:
    """RFC 9309 match target: raw path+query octets, '' → '/'.

    Regex-extracted, NOT URL-parsed: rule matching is defined on the
    request target as-received, and Spark 4's ``parse_url`` throws on (and
    ``try_parse_url`` silently NULLs out) malformed percent-escapes — a
    malformed URL must still be matched against the rules byte-for-byte,
    not waved through (fuzz-caught: ``/3c%22%`` bypassed a Disallow)."""
    from frontier.urlnorm import pathquery_expr

    return pathquery_expr(url_col)


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    keep_disallowed: bool = False,
    broadcast_rules: bool = False,
) -> DataFrame:
    """Apply a per-host rules snapshot to a URL DataFrame.

    Adds ``robots_crawl_delay`` (the host's Crawl-delay, NULL without
    one), ``robots_allowed`` (boolean) and ``robots_matched_plen`` (int,
    NULL when no rule matched) and, unless ``keep_disallowed``, drops the
    disallowed rows and the last two columns.  URLs whose host has no
    snapshot row, or whose rule array is empty, are allowed (RFC 9309
    §2.2.1).

    Plan shape: one left equi-join on host (broadcast when
    ``broadcast_rules``), then codegen-only column expressions — the rule
    array is FILTERed by ``rlike`` and reduced with ``array_max`` over
    ``struct(plen, allow)``: struct ordering gives longest-match-wins with
    Allow beating Disallow on equal length.  The URL side is never exploded
    or re-shuffled.
    """
    rules_side = rules.select(
        F.col("host").alias("_robots_host"),
        F.col("crawl_delay").alias("robots_crawl_delay"),
        F.col("rules").alias("_robots_rules"),
    )
    if broadcast_rules:
        rules_side = F.broadcast(rules_side)

    from frontier.urlnorm import host_expr

    with_host = urls.withColumn("_robots_join_host", host_expr(url_col))
    joined = with_host.join(
        rules_side,
        with_host["_robots_join_host"] == rules_side["_robots_host"],
        "left",
    ).drop("_robots_host")

    joined = joined.withColumn("_robots_path", _match_path(F.col(url_col)))
    best = F.array_max(
        F.expr(
            "transform("
            "  filter(coalesce(_robots_rules, array()),"
            "         r -> _robots_path rlike r.rx),"
            "  r -> struct(r.plen as plen, r.allow as allow))"
        )
    )
    out = (
        joined.withColumn("_robots_best", best)
        .withColumn(
            "robots_allowed",
            F.col("_robots_best").isNull() | F.col("_robots_best.allow"),
        )
        .withColumn("robots_matched_plen", F.col("_robots_best.plen"))
        .drop("_robots_rules", "_robots_best", "_robots_path",
              "_robots_join_host")
    )
    if not keep_disallowed:
        out = out.filter(F.col("robots_allowed")).drop(
            "robots_allowed", "robots_matched_plen"
        )
    return out


def _delay_budget(delay: Column, round_seconds: float, default_budget: int) -> Column:
    """The budget formula: ``max(1, floor(round_seconds / delay))`` capped
    at ``default_budget``; a NULL or non-positive delay keeps the default."""
    from_delay = F.greatest(
        F.lit(1),
        F.floor(F.lit(float(round_seconds)) / delay).cast("int"),
    )
    return F.when(
        delay.isNull() | (delay <= 0), F.lit(default_budget)
    ).otherwise(F.least(F.lit(default_budget), from_delay))


def host_budgets_from_delay(
    rules: DataFrame,
    round_seconds: float,
    default_budget: int,
) -> DataFrame:
    """``Crawl-delay`` → per-host per-round fetch budget.

    A host advertising ``Crawl-delay: N`` gets ``max(1,
    floor(round_seconds / N))`` fetches per scheduling round, never more
    than ``default_budget`` (the crawl-wide politeness cap); hosts without a
    delay keep the default.  Output: (host, fetch_budget).
    """
    return rules.select(
        "host",
        _delay_budget(F.col("crawl_delay"), round_seconds, default_budget).alias(
            "fetch_budget"
        ),
    )


def fetch_plan_budgeted(
    pages: DataFrame,
    budgets: DataFrame,
    default_budget: int,
    url_col: str = "page_url",
    salt_buckets: int = 0,
) -> DataFrame:
    """R9 priority queue with PER-HOST budgets (north rule: "politeness
    budgets plus robots.txt rules drive a priority queue").

    Ranks with :func:`frontier.schedule.fetch_plan` (the two-level salted
    top-k) at ``default_budget``, then caps each host at its own budget
    from ``budgets`` (host, fetch_budget) — typically
    :func:`host_budgets_from_delay` output — with ``default_budget`` for
    unlisted hosts.

    Contract: ``default_budget`` is the crawl-wide politeness CAP — every
    per-host budget must be ≤ it (``host_budgets_from_delay`` guarantees
    this; Crawl-delay can only reduce a host's budget).  That contract is
    what keeps the plan cheap: both rank windows pre-filter at
    ``default_budget``, so the 10¹⁰-row URL side is reduced to at most
    ``default_budget`` rows per host BEFORE the budgets table is joined —
    the join touches ≤ hosts × default_budget rows, never the full corpus,
    and the salted result stays identical to the unsalted plan.
    """
    from frontier.schedule import fetch_plan

    ranked = fetch_plan(pages, default_budget, url_col, salt_buckets)
    budget_side = budgets.select(
        F.col("host").alias("_budget_host"),
        F.col("fetch_budget").alias("_fetch_budget"),
    )
    return (
        ranked.join(
            budget_side,
            ranked["canonical_host"] == budget_side["_budget_host"],
            "left",
        )
        .drop("_budget_host")
        .withColumn(
            "fetch_budget",
            F.coalesce(F.col("_fetch_budget"), F.lit(default_budget)),
        )
        .drop("_fetch_budget")
        .filter(F.col("fetch_rank") <= F.col("fetch_budget"))
    )


#: Synthetic body standing in for an UNREACHABLE robots.txt under the
#: assume-disallow policy: parsed by the same kernel as real bodies, so
#: the disallow-all snapshot takes the ordinary code path end to end.
_DISALLOW_ALL_BODY = b"User-agent: *\nDisallow: /\n"


def robots_rules_from_store(
    seeds: DataFrame,
    fetches: DataFrame,
    user_agent: str = DEFAULT_USER_AGENT,
    assume_disallow_on_unreachable: bool = True,
) -> DataFrame:
    """Per-host rules snapshot straight from a fetch store.

    The crawl's discovery phase (D3) already fetched each seed's
    ``robots.txt`` for its ``Sitemap:`` directives; this re-reads the SAME
    store rows for their RFC 9309 rule groups — no second fetch.  Join
    shape: seeds (tiny) broadcast-joined to the store on the robots URL, so
    the store is scanned once with a pushed-down semi-join; bodies are
    decoded (gzip-sniffed, utf-8-sig) and parsed in one Arrow kernel over
    one row per host.

    Pass the store as the crawl read it (:func:`frontier.waves.
    prepare_fetches` output) so a redirected robots.txt counts by the
    response it lands on, as in the crawl; a raw 3xx row is neither 2xx
    nor 5xx and yields no snapshot row.

    Status semantics (RFC 9309 §2.3.1):

    - 2xx → parse the body;
    - 4xx ("unavailable") and hosts with no robots row at all → no
      snapshot row, allowed-by-absence downstream;
    - 5xx / null-status errors ("unreachable", §2.3.1.4) → with
      ``assume_disallow_on_unreachable`` (default, the crawler-safe MAY
      branch major crawlers document) the host gets a synthetic
      disallow-all snapshot — a failing server is never hammered with
      page fetches just because its robots.txt timed out. Pass ``False``
      for the allow-all reading of the same MAY.
    """
    from frontier.textnorm import decode_sitemap_body
    from frontier.urlnorm import host_expr

    col = "seed" if "seed" in seeds.columns else seeds.columns[0]
    robots_urls = seeds.select(
        F.concat(F.col(col), F.lit("robots.txt")).alias("url"),
        host_expr(F.col(col)).alias("host"),
    )
    matched = fetches.join(F.broadcast(robots_urls), "url")
    ok = matched.filter(
        (F.col("status") >= 200) & (F.col("status") < 300)
    ).select("host", "url", "content_type", "body")
    if assume_disallow_on_unreachable:
        unreachable = (
            matched.filter(
                F.col("status").isNull() | (F.col("status") >= 500)
            )
            .select(
                "host",
                "url",
                F.lit(None).cast("string").alias("content_type"),
                F.lit(_DISALLOW_ALL_BODY).alias("body"),
            )
            # a host that ALSO has a 2xx row (e.g. retry succeeded) keeps
            # the real body: the union puts 2xx first and the per-host
            # dedup below is ordered by the marker column
            .withColumn("_unreachable", F.lit(1))
        )
        rows = (
            ok.withColumn("_unreachable", F.lit(0))
            .unionByName(unreachable)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("host").orderBy("_unreachable", "url")
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_unreachable")
        )
    else:
        rows = ok.dropDuplicates(["host"])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            texts = [
                decode_sitemap_body(url, ctype, bytes(body or b""))
                for url, ctype, body in zip(
                    batch["url"], batch["content_type"], batch["body"]
                )
            ]
            yield _rules_frame(batch["host"], texts, user_agent)

    return rows.mapInPandas(kernel, ROBOTS_RULES_SCHEMA)


def _sink_is_empty(pages_dir: str) -> bool:
    """True when a crawl's page sink holds no file Spark's reader lists,
    read from a driver-side listing (no Spark job). The wave kernel
    publishes a ``part-*.parquet`` only for a task that emitted pages; its
    in-flight ``.part-*.tmp`` files are hidden, like every ``.``/``_``
    name."""
    for _, _, files in os.walk(pages_dir):
        if any(not name.startswith((".", "_")) for name in files):
            return False
    return True


def crawl_fetch_plan(
    spark,
    homepages,
    fetches: DataFrame,
    *,
    user_agent: str = DEFAULT_USER_AGENT,
    round_seconds: float = 30.0,
    default_budget: int = 12,
    salt_buckets: int = 0,
    broadcast_rules: bool = True,
    **crawl_kwargs,
) -> DataFrame:
    """The north rule end-to-end: sitemap discovery → robots.txt rules →
    per-host politeness budgets → priority-queue fetch plan.

    1. :func:`frontier.waves.prepare_fetches` normalizes ``fetches`` once
       (3xx chains followed; skipped with ``fetches_prepared=True``), and
       :func:`frontier.waves.sitemap_tree_for_homepages` crawls the sitemap
       forest over that store (all its knobs pass through).
    2. :func:`robots_rules_from_store` reads each seed's robots.txt row of
       the same prepared store for Allow/Disallow/Crawl-delay, so a
       redirected robots.txt is read where the crawl landed. Seeds come
       from the crawl's seed frame (``forest.seeds``); every seed host gets
       its rules, including hosts whose robots.txt the seen filter skipped,
       because such a host can still reach a new known-path sitemap.
    3. :func:`robots_filter` drops disallowed page URLs (longest-match,
       Allow wins ties) and carries each page's host Crawl-delay.
    4. :func:`frontier.schedule.fetch_plan` ranks survivors per host by
       (priority desc, lastmod desc, url) at ``default_budget``, then each
       host is capped at its Crawl-delay-derived budget (the
       :func:`host_budgets_from_delay` formula; default for hosts without
       one). The result equals :func:`fetch_plan_budgeted` over
       :func:`host_budgets_from_delay` of the same rules.

    Returns the plan DataFrame (page rows + ``canonical_host``,
    ``fetch_rank``, ``fetch_budget``).  No Spark job runs after the wave
    loop: the rules snapshot is consumed once, inside the plan, so every
    action on the returned plan re-runs the rules kernel (cache or write
    the plan to read it twice).  A round whose page sink holds no page
    file (every sitemap URL seen, say; a driver-side listing decides)
    skips steps 2-4: its plan is the empty sink's scan with the same
    columns, types and nullability, and writing it runs one small job.
    At 10¹⁰-URL scale every step is a single equi-join or
    rank-in-partition — no global sort, no driver materialization.
    """
    from frontier.schedule import fetch_plan, with_canonical_host
    from frontier.waves import prepare_fetches, sitemap_tree_for_homepages

    if not crawl_kwargs.get("fetches_prepared"):
        # the uniqueness hint is an attribute of the caller's frame and
        # does not survive prepare_fetches: resolve it first
        if crawl_kwargs.get("store_urls_unique") is None:
            crawl_kwargs["store_urls_unique"] = getattr(
                fetches, "_frontier_urls_unique", False
            )
        fetches = prepare_fetches(fetches)
        crawl_kwargs["fetches_prepared"] = True

    forest = sitemap_tree_for_homepages(spark, homepages, fetches, **crawl_kwargs)
    # the plan reads only the page sink, the seed frame and the store
    forest.unpersist(delete_pages=False)
    if _sink_is_empty(forest.pages_dir):
        # no page, so no plan row whatever the rules say: the empty sink's
        # scan with the plan's three columns, no rules/filter/rank plan
        return with_canonical_host(forest.pages, "page_url").select(
            "*",
            F.lit(0).alias("fetch_rank"),
            F.lit(default_budget).alias("fetch_budget"),
        )
    rules = robots_rules_from_store(forest.seeds, fetches, user_agent)
    pages = robots_filter(
        forest.all_pages(),
        rules,
        url_col="page_url",
        broadcast_rules=broadcast_rules,
    )
    # rank at the literal cap (pre-shuffle top-k), then the per-host budget
    ranked = fetch_plan(pages, default_budget, "page_url", salt_buckets)
    budget = _delay_budget(F.col("robots_crawl_delay"), round_seconds, default_budget)
    return (
        ranked.withColumn("fetch_budget", budget)
        .filter(F.col("fetch_rank") <= F.col("fetch_budget"))
        .drop("robots_crawl_delay")
    )
