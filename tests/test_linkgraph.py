"""Crawl-policy operators: robots.txt evaluation through the stdlib
parser and the politeness-scheduled fetch plan (mre/linkgraph.py)."""


def test_robots_allowed_group_selection_and_defaults(spark):
    """RFC group selection through the real stdlib parser: a specific
    agent group REPLACES '*', prefix matching applies, and a host with
    no robots row allows everything."""
    from mre.linkgraph import robots_allowed
    robots = spark.createDataFrame(
        [("a.org", "User-agent: *\nDisallow: /articles/\n\n"
                   "User-agent: mrebot\nDisallow: /blocked/\n"),
         ("b.org", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string")
    urls = spark.createDataFrame(
        [("https://a.org/articles/1",),   # * blocks, mrebot group wins
         ("https://a.org/blocked/2",),    # mrebot group blocks
         ("https://b.org/private/3",),    # * blocks
         ("https://b.org/ok/4",),
         ("https://c.org/anything",)],    # no robots row → allowed
        "url string")
    got = {r["url"]: r["allowed"]
           for r in robots_allowed(urls, robots, agent="mrebot")
           .collect()}
    assert got == {
        "https://a.org/articles/1": 1,
        "https://a.org/blocked/2": 0,
        "https://b.org/private/3": 0,
        "https://b.org/ok/4": 1,
        "https://c.org/anything": 1}
    # a generic agent falls back to the '*' group on a.org
    got2 = {r["url"]: r["allowed"]
            for r in robots_allowed(urls, robots, agent="other")
            .collect()}
    assert got2["https://a.org/articles/1"] == 0
    assert got2["https://a.org/blocked/2"] == 1


def test_robots_crawl_delay_extraction(spark):
    """Crawl-delay comes from the MATCHED group (specific beats '*'),
    converts to integer milliseconds, and defaults to 0 when absent
    (incl. hosts with no robots row and fractional delays, which the
    stdlib parser rejects — it accepts integer seconds only)."""
    from mre.linkgraph import robots_allowed
    robots = spark.createDataFrame(
        [("a.org", "User-agent: *\nDisallow: /x/\nCrawl-delay: 2\n\n"
                   "User-agent: mrebot\nDisallow: /y/\n"
                   "Crawl-delay: 1\n"),
         ("b.org", "User-agent: *\nDisallow: /x/\n"),
         ("d.org", "User-agent: *\nDisallow: /x/\n"
                   "Crawl-delay: 0.5\n")],
        "host string, robots_txt string")
    urls = spark.createDataFrame(
        [("https://a.org/p",), ("https://b.org/p",),
         ("https://c.org/p",), ("https://d.org/p",)], "url string")
    mre_d = {r["host"]: r["crawl_delay_ms"]
             for r in robots_allowed(urls, robots, agent="mrebot")
             .collect()}
    assert mre_d == {"a.org": 1000, "b.org": 0, "c.org": 0,
                     "d.org": 0}
    oth_d = {r["host"]: r["crawl_delay_ms"]
             for r in robots_allowed(urls, robots, agent="other")
             .collect()}
    assert oth_d["a.org"] == 2000


def test_fetch_plan_schedules_per_host(spark):
    """Blocked urls drop; each host's queue ranks in url order with
    start_ms stepping by the host's Crawl-delay; zero-delay hosts all
    start at 0; hosts without robots rows are unconstrained."""
    from mre.linkgraph import fetch_plan
    robots = spark.createDataFrame(
        [("a.org", "User-agent: *\nDisallow: /no/\nCrawl-delay: 3\n"),
         ("b.org", "User-agent: *\nDisallow: /zz/\n")],
        "host string, robots_txt string")
    urls = spark.createDataFrame(
        [("https://a.org/p1",), ("https://a.org/p2",),
         ("https://a.org/no/p3",),
         ("https://WWW.B.org/q1",), ("https://b.org/q2",),
         ("https://c.org/r1",)], "url string")
    got = {r["url"]: (r["host"], r["rank"], r["start_ms"])
           for r in fetch_plan(urls, robots).collect()}
    assert "https://a.org/no/p3" not in got
    assert got["https://a.org/p1"] == ("a.org", 1, 0)
    assert got["https://a.org/p2"] == ("a.org", 2, 3000)
    # mixed-case www host canonicalizes into the same queue
    assert got["https://WWW.B.org/q1"] == ("b.org", 1, 0)
    assert got["https://b.org/q2"] == ("b.org", 2, 0)
    assert got["https://c.org/r1"] == ("c.org", 1, 0)


def test_robots_allowed_total_on_malformed_url(spark):
    """Malformed urls never fail the task: with no matching robots row
    they fall to the allow-all default; when a robots row DOES match
    the malformed host (so can_fetch runs and raises), the url is a
    DENY. Garbage robots text parses to allow-all (stdlib)."""
    from mre.linkgraph import robots_allowed
    robots = spark.createDataFrame(
        [("a.org", "User-agent: *\nDisallow: /x/\n"),
         ("[", "User-agent: *\nDisallow: /x/\n"),
         ("b.org", "\x00garbage ::: not robots %%%")],
        "host string, robots_txt string")
    urls = spark.createDataFrame(
        [("http://[",), ("http://[bad/y",), ("https://a.org/ok",),
         ("https://b.org/x/p",)],
        "url string")
    got = {r["url"]: r["allowed"]
           for r in robots_allowed(urls, robots).collect()}
    assert got["http://["] == 0          # robots row matches → guard
    assert got["http://[bad/y"] == 1     # no row → allow-all default
    assert got["https://a.org/ok"] == 1
    assert got["https://b.org/x/p"] == 1  # garbage robots = allow-all
