"""RFC 9309 robots rules engine: pattern compilation, group selection,
longest-match/allow-tie semantics, Spark filter plan, crawl-delay budgets.

Scalar cases follow the published RFC 9309 §2.2.2/§5.2 examples and the
sitemaps.org wildcard conventions (public knowledge); the Spark tests assert
the distributed filter reproduces the scalar engine exactly.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Row, functions as F

from frontier.robots import (
    DEFAULT_USER_AGENT,
    compile_pattern,
    fetch_plan_budgeted,
    host_budgets_from_delay,
    parse_robots_body,
    parse_robots_rules,
    robots_filter,
)


# --- scalar: pattern compilation ----------------------------------------------


@pytest.mark.parametrize(
    "pattern,url_path,matches",
    [
        ("/", "/anything", True),
        ("/fish", "/fish", True),
        ("/fish", "/fish.html", True),  # prefix match
        ("/fish", "/fishheads/yummy.html", True),
        ("/fish", "/Fish.asp", False),  # case-sensitive
        ("/fish", "/catfish", False),  # anchored at start
        ("/fish*", "/fish/salmon.html", True),
        ("/fish/", "/fish", False),
        ("/fish/", "/fish/salmon", True),
        ("/*.php", "/index.php", True),
        ("/*.php", "/filename.php?parameters", True),
        ("/*.php", "/windows.PHP", False),
        ("/*.php$", "/filename.php", True),
        ("/*.php$", "/filename.php?parameters", False),  # $ anchors the end
        ("/fish*.php", "/fish.php", True),
        ("/fish*.php", "/fishheads/catfish.php?parameters", True),
        ("/a$b", "/a$b", True),  # inner $ is literal
        ("/a+b", "/a+b", True),  # regex specials escaped
        ("/a(1).txt", "/a(1).txt", True),
    ],
)
def test_compile_pattern(pattern, url_path, matches):
    rx = compile_pattern(pattern)
    assert bool(re.match(rx, url_path)) is matches


# --- scalar: body parsing + group selection -----------------------------------

BODY_GROUPS = """
# global default
User-agent: *
Disallow: /

User-agent: frontierbot
Allow: /public/
Disallow: /public/private/
Crawl-delay: 2

User-agent: otherbot
Disallow: /other/
"""


def test_group_selection_specific_agent():
    delay, rules = parse_robots_body(BODY_GROUPS, "frontierbot/1.0")
    assert delay == 2.0
    assert [(p, allow) for (p, _, _, allow) in rules] == [
        ("/public/", True),
        ("/public/private/", False),
    ]


def test_group_selection_fallback_star():
    delay, rules = parse_robots_body(BODY_GROUPS, "unknownbot/9")
    assert delay is None
    assert [(p, allow) for (p, _, _, allow) in rules] == [("/", False)]


def test_groups_with_same_agent_merge():
    body = (
        "User-agent: a\nDisallow: /one\n\n"
        "User-agent: a\nDisallow: /two\n"
    )
    _, rules = parse_robots_body(body, "a/1.0")
    assert [p for (p, _, _, _) in rules] == ["/one", "/two"]


def test_consecutive_agent_lines_share_rules():
    body = "User-agent: a\nUser-agent: b\nDisallow: /x\n"
    for ua in ("a/1", "b/1"):
        _, rules = parse_robots_body(body, ua)
        assert [p for (p, _, _, _) in rules] == ["/x"]


def test_empty_disallow_is_allow_all():
    _, rules = parse_robots_body("User-agent: *\nDisallow:\n", "x")
    assert rules == []


def test_rules_before_any_group_ignored():
    _, rules = parse_robots_body("Disallow: /\nUser-agent: *\nAllow: /a\n", "x")
    assert [p for (p, _, _, _) in rules] == ["/a"]


def test_comments_and_bad_delay():
    body = (
        "User-agent: * # trailing comment\n"
        "Disallow: /a # comment after value\n"
        "Crawl-delay: fast\n"
    )
    delay, rules = parse_robots_body(body, "x")
    assert delay is None
    assert [p for (p, _, _, _) in rules] == ["/a"]


# --- scalar decision helper (mirror of the Spark array_max reduction) ----------


def decide(rules, path: str) -> bool:
    best = None
    for (_, rx, plen, allow) in rules:
        if re.match(rx, path) and (best is None or (plen, allow) > best):
            best = (plen, allow)
    return best is None or best[1]


def test_longest_match_wins():
    _, rules = parse_robots_body(
        "User-agent: *\nAllow: /p\nDisallow: /\n", "x"
    )
    assert decide(rules, "/page") is True  # /p (len 2) beats / (len 1)
    assert decide(rules, "/other") is False


def test_allow_wins_length_tie():
    _, rules = parse_robots_body(
        "User-agent: *\nAllow: /folder\nDisallow: /folder\n", "x"
    )
    assert decide(rules, "/folder/page") is True


def test_no_match_is_allowed():
    _, rules = parse_robots_body("User-agent: *\nDisallow: /private\n", "x")
    assert decide(rules, "/public") is True


# --- Spark: distributed parse + filter ≡ scalar engine --------------------------


HOSTS = ["a.example.com", "b.example.com", "c.example.com"]


def _bodies():
    return {
        "a.example.com": (
            "User-agent: frontierbot\n"
            "Disallow: /private/\n"
            "Allow: /private/ok*\n"
            "Disallow: /*.tmp$\n"
            "Crawl-delay: 3\n\n"
            "User-agent: *\nDisallow: /\n"
        ),
        "b.example.com": "User-agent: *\nDisallow:\n",  # allow-all
        # c has no robots row at all → allowed by absence
    }


def _urls():
    paths = [
        "/private/doc1.html",  # a: disallowed
        "/private/okx",  # a: allowed (longest = Allow /private/ok*)
        "/private/okx.tmp",  # a: allowed (Allow len 12 > Disallow len 7)
        "/public/doc.tmp",  # a: disallowed by /*.tmp$
        "/public/doc.tmp?x=1",  # a: allowed ($ anchor fails on query)
        "/public/doc.html",  # a: allowed (no match)
        "",  # a: allowed ('' → '/')
    ]
    urls = [f"http://a.example.com{p}" for p in paths]
    urls += [f"http://{h}/private/doc1.html" for h in HOSTS[1:]]
    return urls


EXPECTED_ALLOWED = {
    "http://a.example.com/private/okx",
    "http://a.example.com/private/okx.tmp",
    "http://a.example.com/public/doc.tmp?x=1",
    "http://a.example.com/public/doc.html",
    "http://a.example.com",
    "http://b.example.com/private/doc1.html",
    "http://c.example.com/private/doc1.html",
}


@pytest.fixture(scope="module")
def rules_df(spark):
    rows = [Row(host=h, body=b) for h, b in _bodies().items()]
    return parse_robots_rules(
        spark.createDataFrame(rows), DEFAULT_USER_AGENT
    ).cache()


def test_spark_parse_rules_snapshot(rules_df):
    by_host = {r["host"]: r for r in rules_df.collect()}
    a = by_host["a.example.com"]
    assert a["crawl_delay"] == 3.0
    assert [r["pattern"] for r in a["rules"]] == [
        "/private/",
        "/private/ok*",
        "/*.tmp$",
    ]
    assert by_host["b.example.com"]["rules"] == []


def test_spark_filter_matches_scalar(spark, rules_df):
    urls = spark.createDataFrame([Row(url=u) for u in _urls()])
    kept = {
        r["url"]
        for r in robots_filter(urls, rules_df, broadcast_rules=True).collect()
    }
    assert kept == EXPECTED_ALLOWED


def test_spark_filter_keep_disallowed_flags(spark, rules_df):
    urls = spark.createDataFrame([Row(url=u) for u in _urls()])
    out = robots_filter(urls, rules_df, keep_disallowed=True)
    rows = {r["url"]: r for r in out.collect()}
    assert len(rows) == len(_urls())
    for url, row in rows.items():
        assert row["robots_allowed"] is (url in EXPECTED_ALLOWED), url
    # matched_plen pins WHICH rule won, not just the verdict
    assert rows["http://a.example.com/private/okx.tmp"][
        "robots_matched_plen"
    ] == len("/private/ok*")
    assert rows["http://a.example.com/public/doc.tmp"][
        "robots_matched_plen"
    ] == len("/*.tmp$")
    assert rows["http://c.example.com/private/doc1.html"][
        "robots_matched_plen"
    ] is None


def test_spark_filter_plan_no_explode_no_shuffle_of_urls(spark, rules_df):
    urls = spark.createDataFrame([Row(url=u) for u in _urls()])
    plan = robots_filter(
        urls, rules_df, broadcast_rules=True
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Generate" not in plan  # no explode of the rule array
    # the URL side must not hit an exchange beyond the broadcast build side
    assert plan.count("Exchange") <= 1


# --- budgets -------------------------------------------------------------------


def test_host_budgets_from_delay(spark, rules_df):
    budgets = {
        r["host"]: r["fetch_budget"]
        for r in host_budgets_from_delay(
            rules_df, round_seconds=30, default_budget=20
        ).collect()
    }
    assert budgets["a.example.com"] == 10  # floor(30 / 3)
    assert budgets["b.example.com"] == 20  # no delay → default


_PAGES_DDL = "page_url string, priority double, last_modified timestamp"


def test_fetch_plan_budgeted_caps_per_host(spark, rules_df):
    pages = spark.createDataFrame(
        [
            (f"http://{h}/p{i}", float(i % 7) / 10.0, None)
            for h in HOSTS
            for i in range(40)
        ],
        _PAGES_DDL,
    )
    budgets = host_budgets_from_delay(rules_df, 30, default_budget=15)
    plan = fetch_plan_budgeted(pages, budgets, default_budget=15)
    counts = {
        r["canonical_host"]: r["n"]
        for r in plan.groupBy("canonical_host").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {
        "a.example.com": 10,  # crawl-delay 3 → floor(30/3)
        "b.example.com": 15,  # default
        "c.example.com": 15,  # unlisted host → default
    }
    # ordering inside a host follows the R9 priority queue
    a_rows = sorted(
        (r for r in plan.collect() if r["canonical_host"] == "a.example.com"),
        key=lambda r: r["fetch_rank"],
    )
    prios = [r["priority"] for r in a_rows]
    assert prios == sorted(prios, reverse=True)


def test_fetch_plan_budgeted_salted_equals_unsalted(spark, rules_df):
    pages = spark.createDataFrame(
        [
            (f"http://a.example.com/p{i}", float(i % 5) / 10.0, None)
            for i in range(100)
        ],
        _PAGES_DDL,
    )
    budgets = host_budgets_from_delay(rules_df, 30, default_budget=15)
    plain = fetch_plan_budgeted(pages, budgets, 15)
    salted = fetch_plan_budgeted(pages, budgets, 15, salt_buckets=4)
    key = lambda r: (r["canonical_host"], r["fetch_rank"])
    assert sorted(map(key, plain.collect())) == sorted(map(key, salted.collect()))
    assert {r["page_url"] for r in plain.collect()} == {
        r["page_url"] for r in salted.collect()
    }


# --- end-to-end: discovery → rules → budgets → plan ------------------------------


def test_crawl_fetch_plan_end_to_end(spark):
    from frontier.robots import crawl_fetch_plan, robots_rules_from_store
    from frontier.synth import synth_crawl_corpus

    n_hosts = 3
    corpus = synth_crawl_corpus(
        spark, n_hosts, leaves_per_host=2, pages_per_leaf=10, robots_rules=True
    )
    seeds = [f"http://host{i}.example.com/" for i in range(n_hosts)]
    plan = crawl_fetch_plan(
        spark, seeds, corpus, round_seconds=30.0, default_budget=8,
        use_known_paths=False,
    ).cache()

    rows = plan.collect()
    # leaf-0 pages blocked unless the page number starts with '1' (Allow
    # /p0_1 outranks Disallow /p0_): with i in 0..9 that is only p0_1, so
    # 11 allowed pages per host, then the budget caps each host at 8
    urls = {r["page_url"] for r in rows}
    assert not any("/p0_0" in u or "/p0_2" in u for u in urls)
    # budgets: delay = 1 + h % 5 → h0: min(8,30)=8, h1: min(8,15)=8, h2: 10→8
    counts = {r["canonical_host"]: 0 for r in rows}
    for r in rows:
        counts[r["canonical_host"]] += 1
        assert r["fetch_rank"] <= r["fetch_budget"]
    assert counts == {f"host{i}.example.com": 8 for i in range(n_hosts)}

    # rules snapshot came from the very rows the discovery phase fetched
    seeds_df = spark.createDataFrame([(s,) for s in seeds], "seed string")
    rules = robots_rules_from_store(seeds_df, corpus)
    by_host = {r["host"]: r for r in rules.collect()}
    assert by_host["host2.example.com"]["crawl_delay"] == 3.0
    assert [x["pattern"] for x in by_host["host0.example.com"]["rules"]] == [
        "/p0_", "/p0_1"
    ]
    plan.unpersist()


def _composed_plan(spark, homepages, corpus, salt_buckets, **crawl_kwargs):
    """crawl_fetch_plan as the separate public steps: rules from the
    forest's level -1 nodes, filter, budgets table, budgeted plan."""
    from frontier.robots import robots_rules_from_store
    from frontier.waves import sitemap_tree_for_homepages

    forest = sitemap_tree_for_homepages(spark, homepages, corpus, **crawl_kwargs)
    seeds = forest.nodes.filter(F.col("level") == -1).select(
        F.col("url").alias("seed")
    )
    rules = robots_rules_from_store(seeds, corpus)
    pages = robots_filter(
        forest.all_pages(), rules, url_col="page_url", broadcast_rules=True
    ).drop("robots_crawl_delay")
    budgets = host_budgets_from_delay(rules, 20.0, default_budget=8)
    plan = fetch_plan_budgeted(
        pages, budgets, 8, url_col="page_url", salt_buckets=salt_buckets
    )
    return plan, forest


@pytest.mark.parametrize("salt_buckets", [0, 4])
@pytest.mark.parametrize("seed_kind", ["list", "frame"])
def test_crawl_fetch_plan_equals_composed_steps(spark, salt_buckets, seed_kind):
    """crawl_fetch_plan (rules consumed once inside the plan) equals the
    composition of its public steps row for row and in column order, for a
    seed list and for a seeds DataFrame. The budgets bind below the cap on
    some hosts (Crawl-delay 1 + h % 5 over a 20 s round → 8, 8, 6, 5)."""
    from frontier.robots import crawl_fetch_plan
    from frontier.synth import synth_crawl_corpus

    corpus = synth_crawl_corpus(
        spark, 4, leaves_per_host=2, pages_per_leaf=20, robots_rules=True
    )
    seeds = [f"http://host{i}.example.com/" for i in range(4)]
    homepages = (
        seeds if seed_kind == "list"
        else spark.createDataFrame([(s,) for s in seeds], "seed string")
    )
    got = crawl_fetch_plan(
        spark, homepages, corpus, round_seconds=20.0, default_budget=8,
        salt_buckets=salt_buckets, use_known_paths=False,
    )
    want, forest = _composed_plan(
        spark, homepages, corpus, salt_buckets, use_known_paths=False
    )
    assert got.schema == want.schema
    got_rows = sorted(got.collect())
    assert got_rows == sorted(want.collect())
    budgets = {r["canonical_host"]: r["fetch_budget"] for r in got_rows}
    assert budgets == {
        f"host{i}.example.com": b for i, b in enumerate((8, 8, 6, 5))
    }
    forest.unpersist()


@pytest.mark.parametrize("salt_buckets", [0, 4])
def test_crawl_fetch_plan_empty_round(spark, tmp_path, jobs_in, salt_buckets):
    """A round behind a seen set holding every sitemap URL finds no page:
    its plan is empty, has exactly the schema of the composed steps' plan
    over the same inputs, and its write runs at most one Spark job (no
    rules kernel, no ranking)."""
    from frontier.dedup import UrlSeenSet
    from frontier.robots import crawl_fetch_plan
    from frontier.synth import synth_crawl_corpus
    from frontier.waves import sitemap_tree_for_homepages

    corpus = synth_crawl_corpus(
        spark, 2, leaves_per_host=2, pages_per_leaf=5, robots_rules=True
    )
    seeds = [f"http://host{i}.example.com/" for i in range(2)]
    seen = UrlSeenSet(spark, str(tmp_path / "seen"))
    sitemap_tree_for_homepages(
        spark, seeds, corpus, use_known_paths=False,
        seen_set=seen, record_seen=True,
    ).unpersist()

    got = crawl_fetch_plan(
        spark, seeds, corpus, round_seconds=20.0, default_budget=8,
        salt_buckets=salt_buckets, use_known_paths=False, seen_set=seen,
    )
    want, forest = _composed_plan(
        spark, seeds, corpus, salt_buckets, use_known_paths=False,
        seen_set=seen,
    )
    assert got.schema == want.schema
    out = str(tmp_path / "plan")
    assert jobs_in(f"empty-plan-{salt_buckets}", got.write.parquet, out) <= 1
    assert spark.read.parquet(out).count() == 0
    assert want.count() == 0
    forest.unpersist()


def test_crawl_fetch_plan_reads_redirected_robots(spark):
    """A robots.txt that 301-redirects is followed by the crawl (its
    Sitemap: line is read) and its rules must apply too: the plan drops
    the Disallowed page."""
    from frontier.robots import crawl_fetch_plan

    robots = (
        b"User-agent: *\nDisallow: /private/\n"
        b"Sitemap: http://a.com/sitemap.xml\n"
    )
    urlset = (
        b'<?xml version="1.0" encoding="UTF-8"?>'
        b'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        b"<url><loc>http://a.com/page.html</loc></url>"
        b"<url><loc>http://a.com/private/x.html</loc></url>"
        b"</urlset>"
    )
    store = spark.createDataFrame(
        [
            ("http://a.com/robots.txt", "https://a.com/robots.txt", 301,
             None, None),
            ("https://a.com/robots.txt", None, 200, "text/plain",
             bytearray(robots)),
            ("http://a.com/sitemap.xml", None, 200, "application/xml",
             bytearray(urlset)),
        ],
        "url string, final_url string, status int, content_type string, "
        "body binary",
    )
    plan = crawl_fetch_plan(spark, ["http://a.com/"], store, use_known_paths=False)
    assert [r["page_url"] for r in plan.collect()] == ["http://a.com/page.html"]


def test_empty_user_agent_value_matches_nothing():
    """Review-caught: '' is a substring of every token; an empty
    'User-agent:' line must not hijack selection from the '*' group."""
    body = (
        "User-agent:\nAllow: /\n\n"
        "User-agent: *\nDisallow: /private/\n"
    )
    _, rules = parse_robots_body(body, "frontierbot/1.0")
    assert [(p, a) for (p, _, _, a) in rules] == [("/private/", False)]


# --- RFC 9309 §2.3.1 status semantics ----------------------------------------


def _store(spark, rows):
    return spark.createDataFrame(
        rows, "url string, status int, content_type string, body binary"
    )


def _seeds(spark, hosts):
    return spark.createDataFrame(
        [(f"http://{h}/",) for h in hosts], "seed string"
    )


def test_unreachable_robots_assumes_full_disallow(spark):
    """5xx / null-status robots.txt -> synthetic disallow-all snapshot
    (the crawler-safe MAY branch of §2.3.1.4); 4xx and absent hosts stay
    allowed-by-absence; a 2xx row beats a 5xx row for the same host."""
    from frontier.robots import robots_filter, robots_rules_from_store

    body = b"User-agent: *\nDisallow: /private/\n"
    store = _store(spark, [
        ("http://ok.com/robots.txt", 200, "text/plain", bytearray(body)),
        ("http://down.com/robots.txt", 503, None, None),
        ("http://err.com/robots.txt", None, None, None),
        ("http://gone.com/robots.txt", 404, None, None),
        # retried host: one failed attempt row AND a success row
        ("http://flaky.com/robots.txt", 500, None, None),
        ("http://flaky.com/robots.txt", 200, "text/plain", bytearray(body)),
    ])
    seeds = _seeds(spark, ["ok.com", "down.com", "err.com", "gone.com",
                           "flaky.com", "norow.com"])
    rules = robots_rules_from_store(seeds, store)
    urls = spark.createDataFrame(
        [(f"http://{h}/{p}",)
         for h in ("ok.com", "down.com", "err.com", "gone.com",
                   "flaky.com", "norow.com")
         for p in ("page.html", "private/x.html")],
        "url string",
    )
    kept = {r["url"] for r in robots_filter(urls, rules).collect()}
    # 2xx-parsed hosts: only /private/ blocked
    for h in ("ok.com", "flaky.com"):
        assert f"http://{h}/page.html" in kept
        assert f"http://{h}/private/x.html" not in kept
    # unreachable hosts: everything blocked
    for h in ("down.com", "err.com"):
        assert f"http://{h}/page.html" not in kept
        assert f"http://{h}/private/x.html" not in kept
    # unavailable (404) and absent hosts: everything allowed
    for h in ("gone.com", "norow.com"):
        assert f"http://{h}/page.html" in kept
        assert f"http://{h}/private/x.html" in kept


def test_unreachable_policy_opt_out(spark):
    from frontier.robots import robots_filter, robots_rules_from_store

    store = _store(spark, [("http://down.com/robots.txt", 503, None, None)])
    seeds = _seeds(spark, ["down.com"])
    rules = robots_rules_from_store(
        seeds, store, assume_disallow_on_unreachable=False
    )
    urls = spark.createDataFrame([("http://down.com/p.html",)], "url string")
    assert robots_filter(urls, rules).count() == 1
