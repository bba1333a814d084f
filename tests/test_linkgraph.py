"""Host link-graph operators: real-parser anchor extraction and the
integer fixed-point PageRank (mre/linkgraph.py)."""

import pytest
from pyspark.sql import functions as F


def test_extract_links_resolution_and_self_drop(spark):
    """Relative hrefs resolve to the page's own host (dropped as
    self), absolute same-host links are dropped too, cross-host links
    become edges — through the real lenient parser, including a
    malformed unclosed tag."""
    from mre.linkgraph import extract_links
    pages = spark.createDataFrame(
        [("http://a.org/x",
          '<html><body><a href="/rel">r</a>'
          '<a href="http://a.org/self">s</a>'
          '<a href="http://b.org/t">b</a>'
          '<a>no href</a>'
          '<div><a href="http://c.org/u">c</a></body></html>'),
         ("http://b.org/y",
          '<p><a href="http://a.org/back">back</a>')],
        "url string, html string")
    rows = [(r["src_host"], r["dst_host"], r["kind"])
            for r in extract_links(pages).collect()]
    assert sorted(rows) == sorted([
        ("a.org", "a.org", "self"),
        ("a.org", "a.org", "self"),
        ("a.org", "b.org", "edge"),
        ("a.org", "c.org", "edge"),
        ("b.org", "a.org", "edge")])


def test_pagerank_matches_python_replay_and_orders_by_inlinks(spark):
    """The integer floors replay exactly in pure Python, and a host
    every other host links to outranks the periphery."""
    from mre.linkgraph import pagerank_hosts
    # star: p0..p4 -> hub; hub -> p0 (so the hub has out-edges); one
    # doubled edge exercises weights
    raw = ([(f"p{i}", "hub") for i in range(5)]
           + [("p0", "hub"), ("hub", "p0")])
    edges = (spark.createDataFrame(raw, "src_host string, dst_host string")
             .groupBy("src_host", "dst_host")
             .agg(F.count("*").alias("weight")))
    got = {r["host"]: (r["out_weight"], r["in_weight"], r["rank_micro"])
           for r in pagerank_hosts(edges, iters=4).collect()}

    S, D, IT = 10**12, 85, 4
    w = {}
    for s, d in raw:
        w[(s, d)] = w.get((s, d), 0) + 1
    hosts = sorted({h for e in w for h in e})
    n = len(hosts)
    od = {}
    for (s, _d), x in w.items():
        od[s] = od.get(s, 0) + x
    r = {h: S // n for h in hosts}
    base = ((100 - D) * S) // (100 * n)
    for _ in range(IT):
        nxt = {h: base for h in hosts}
        for (s, d), x in w.items():
            nxt[d] += x * ((D * r[s]) // (100 * od[s]))
        r = nxt
    ind = {}
    for (_s, d), x in w.items():
        ind[d] = ind.get(d, 0) + x
    for h in hosts:
        assert got[h] == (od.get(h, 0), ind.get(h, 0), r[h]), h
    assert got["hub"][2] > got["p1"][2] > 0


def test_pagerank_driver_path_matches_distributed(spark):
    """The round-8 driver fast path (below driver_edge_cap) must emit
    bit-identical rows to the distributed iteration — the arithmetic is
    all integer floors, so the parity is exact, not approximate."""
    from mre.linkgraph import pagerank_hosts
    raw = ([(f"p{i}", "hub") for i in range(5)]
           + [("p0", "hub"), ("hub", "p0"), ("p3", "p4")])
    edges = (spark.createDataFrame(raw, "src_host string, dst_host string")
             .groupBy("src_host", "dst_host")
             .agg(F.count("*").alias("weight")))
    fast = {tuple(r) for r in pagerank_hosts(edges, iters=4).collect()}
    slow = {tuple(r) for r in pagerank_hosts(edges, iters=4,
                                             driver_edge_cap=0).collect()}
    assert fast == slow and len(fast) == 6


def test_pagerank_duplicate_edge_rows_sum_on_both_paths(spark):
    """An edge frame that repeats a (src_host, dst_host) pair — not a
    host_edges collapse — gives the same ranks on the driver fast path
    as on the distributed loop, which sums the repeats; and both equal
    the collapsed frame's ranks."""
    from mre.linkgraph import pagerank_hosts
    schema = "src_host string, dst_host string, weight long"
    dup = spark.createDataFrame(
        [("p0", "hub", 1), ("p0", "hub", 2), ("p1", "hub", 1),
         ("hub", "p0", 1), ("hub", "p1", 3), ("hub", "p1", 1)], schema)
    collapsed = spark.createDataFrame(
        [("p0", "hub", 3), ("p1", "hub", 1),
         ("hub", "p0", 1), ("hub", "p1", 4)], schema)
    fast = {tuple(r) for r in pagerank_hosts(dup, iters=4).collect()}
    slow = {tuple(r) for r in pagerank_hosts(dup, iters=4,
                                             driver_edge_cap=0).collect()}
    ref = {tuple(r) for r in pagerank_hosts(collapsed, iters=4).collect()}
    assert fast == slow == ref and len(fast) == 3


def test_link_pages_parse_back_to_builder_arithmetic(spark):
    """Parsing the built link pages recovers exactly the builder's
    arithmetic: per page 1 + doc_id%3 edges, no self targets, plus the
    nav self and the doc_id%5 absolute self."""
    from mre.linkgraph import extract_links, link_pages_df
    docs = spark.range(40).select(F.col("id").alias("doc_id"))
    links = extract_links(link_pages_df(docs)).collect()
    per = {}
    for r in links:
        per.setdefault(r["src_host"], {"edge": 0, "self": 0})
        per[r["src_host"]][r["kind"]] += 1
    exp = {}
    for d in range(40):
        h = f"h{d % 16}.example.org"
        exp.setdefault(h, {"edge": 0, "self": 0})
        exp[h]["edge"] += 1 + d % 3
        exp[h]["self"] += 1 + (1 if d % 5 == 0 else 0)
    assert per == exp
    assert all(r["src_host"] != r["dst_host"] for r in links
               if r["kind"] == "edge")


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


def test_extract_links_tolerates_malformed_hrefs(spark):
    """A href the stdlib url splitter REJECTS (unbalanced IPv6
    bracket) is one skipped anchor, never a task failure; the page's
    other links survive."""
    from mre.linkgraph import extract_links
    pages = spark.createDataFrame(
        [("http://a.org/x",
          '<a href="http://[">bad</a><a href="http://b.org/ok">g</a>'),
         ("http://[bad/y", '<a href="http://c.org/z">x</a>')],
        "url string, html string")
    rows = [(r["src_host"], r["dst_host"], r["kind"])
            for r in extract_links(pages).collect()]
    assert rows == [("a.org", "b.org", "edge")]


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
