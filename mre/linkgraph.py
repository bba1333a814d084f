"""Host-level link-graph operators: anchor extraction from parsed HTML
and an exactly-replayable PageRank over the host graph.

Web-corpus curation uses link-based priors (host centrality feeds crawl
seeding and quality weighting — the Common-Crawl host-ranking idea);
this module provides the two halves Spark-first:

* ``extract_links`` — per-page <a href> extraction through the SAME
  lenient parser the extraction pipeline uses (``mre.core.htmlparse``),
  batch-wise in ``mapInPandas``; hrefs resolve against the page's own
  host, and same-host links (relative or absolute) are flagged rather
  than emitted as edges.
* ``host_edges`` / ``pagerank_hosts`` — collapse page-level links to a
  WEIGHTED host graph (≤ hosts² rows regardless of corpus size — the
  collapse is the scale move: 10^12 pages fold into the host-pair
  matrix before any iteration touches them), then run damped PageRank
  in INTEGER micro-units: every per-iteration contribution is a floor
  division, so ranks are exact, order-independent, and replayable in
  plain SQL (the micro-nat device family).

Scale shape: extraction is one corpus scan (Arrow batches); the edge
collapse is one (src, dst) aggregation with map-side combine; each
PageRank round is one equi-join + one aggregation over the HOST graph,
never the corpus. Dangling hosts (no out-edges) simply contribute no
mass (the classic redistribution term is omitted to keep the integer
arithmetic exactly replayable; rank totals are therefore not conserved
— this is a scoring prior, not a probability).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAGERANK_SCALE = 10 ** 12
PAGERANK_DAMPING_PCT = 85


def link_page_html(doc_id: int) -> str:
    """Deterministic link-page builder (the ``media_meta`` builder
    device: payload classes are pure doc_id arithmetic, mirrored
    verbatim by the oracle SQL). Host ``h{doc_id % 16}.example.org``
    publishes one relative nav link (always a self-loop), an absolute
    SELF link on every doc_id % 5 == 0 page (exercises the absolute
    form of the self-loop drop), and ``1 + doc_id % 3`` cross-host
    anchors targeting ``(src + 1 + ((doc_id*7 + 5j) % 15)) % 16`` —
    never the source host itself."""
    src = doc_id % 16
    parts = ['<nav><a href="/home">home</a></nav>']
    body = [f"<p>page {doc_id}</p>"]
    if doc_id % 5 == 0:
        body.append(
            f'<a href="http://h{src}.example.org/self/{doc_id}">me</a>')
    for j in range(1 + doc_id % 3):
        t = (src + 1 + ((doc_id * 7 + 5 * j) % 15)) % 16
        body.append(
            f'<a href="http://h{t}.example.org/p/{doc_id}-{j}">x</a>')
    return (f"<html><head><title>p{doc_id}</title></head><body>"
            f"{parts[0]}<div class=\"content\">{''.join(body)}</div>"
            f"</body></html>")


def link_pages_df(docs: DataFrame) -> DataFrame:
    """(url, html) link-fixture pages built IN THE EXECUTORS from the
    documents table's doc_ids — one page per doc, no driver
    materialization."""
    import pandas as pd

    def _build(batches):
        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame({
                "url": [f"http://h{int(d) % 16}.example.org/p/{int(d)}"
                        for d in ids],
                "html": [link_page_html(int(d)) for d in ids]})

    return docs.select("doc_id").mapInPandas(
        _build, "url string, html string")


def extract_links(pages: DataFrame, url_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """Per-anchor link rows through the REAL lenient parser.

    Returns (src_host, dst_host, kind): kind='edge' for a cross-host
    link (the graph edges), kind='self' for a dropped same-host link —
    relative hrefs resolve against the page's own host, so both
    ``/home`` and an absolute link back to the same host land here.
    Anchors with no href are ignored. One corpus scan, Arrow batches,
    no shuffle."""
    import pandas as pd

    def _batch(batches):
        from urllib.parse import urlsplit

        from .core.htmlparse import parse_doc
        for pdf in batches:
            srcs, dsts, kinds = [], [], []
            for url, html in zip(pdf[url_col], pdf[html_col]):
                try:
                    host = urlsplit(url).netloc
                except ValueError:
                    continue  # malformed page url: no attributable links
                if isinstance(html, (bytes, bytearray)):
                    html = bytes(html).decode("utf-8", "replace")
                try:
                    root = parse_doc(html)
                except Exception:
                    continue  # unparseable page contributes no links
                for a in root.iter("a"):
                    href = a.attrib.get("href")
                    if not href:
                        continue
                    try:
                        # a malformed href (unbalanced IPv6 bracket —
                        # the stdlib splitter RAISES) is one bad anchor
                        # in a 10^12-page scan, never a task failure
                        dst = urlsplit(href).netloc or host
                    except ValueError:
                        continue
                    srcs.append(host)
                    dsts.append(dst)
                    kinds.append("self" if dst == host else "edge")
            yield pd.DataFrame({"src_host": srcs, "dst_host": dsts,
                                "kind": kinds})

    return pages.mapInPandas(
        _batch, "src_host string, dst_host string, kind string")


def host_edges(links: DataFrame) -> DataFrame:
    """Collapse page-level link rows to the weighted host graph:
    (src_host, dst_host, weight) over kind='edge' rows only. ≤ hosts²
    rows — THE bound that makes everything downstream corpus-size-
    independent; one aggregation, map-side combinable."""
    return (links.filter(F.col("kind") == "edge")
            .groupBy("src_host", "dst_host")
            .agg(F.count("*").alias("weight")))


def pagerank_hosts(edges: DataFrame, iters: int = 4,
                   scale: int = PAGERANK_SCALE,
                   damping_pct: int = PAGERANK_DAMPING_PCT,
                   driver_edge_cap: int = 500_000) -> DataFrame:
    """Damped PageRank over the weighted host graph in integer
    micro-units — exact and engine-portable:

        rank_0(h)   = scale DIV N
        rank_i+1(h) = (100-d)·scale DIV (100·N)
                      + Σ_src w(src,h) · (d·rank_i(src)
                                          DIV (100·outdeg(src)))

    (d = ``damping_pct``; outdeg = Σ of the host's edge weights; every
    operation is integer, so the result is a pure function of the edge
    multiset — the SQL oracle replays the same floors.) Hosts appear
    in the node set if they occur as EITHER endpoint; a host with no
    out-edges contributes nothing (see module docstring).

    Returns (host, out_weight, in_weight, rank_micro). Driver loop of
    ``iters`` rounds; each round joins the rank frame to the host
    graph (host-keyed shuffle) — the standard distributed-PageRank
    shape, corpus-independent after the ``host_edges`` collapse.

    SMALL-GRAPH FAST PATH (round 8, the ``dup_clusters`` device): when
    the collapsed host graph holds ≤ ``driver_edge_cap`` weighted edges
    (a constant bound, never corpus-scaled — host graphs are ≤ hosts²
    and tiny in practice), the whole iteration runs on the driver in
    Python integers. Every operation above is integer floor arithmetic
    on non-negative values, so Python ``//`` replays it EXACTLY —
    bit-identical ranks, no float anywhere — while replacing
    1 + iters driver-synchronized jobs (count + per-round
    localCheckpoint) with one bounded collect. Above the cap the
    distributed loop below is unchanged."""
    from .textops import _register_cache
    iters, scale, d = int(iters), int(scale), int(damping_pct)
    # persist BEFORE the size probe: if the graph exceeds the cap, the
    # distributed loop below reuses the materialized cache instead of
    # re-running the (potentially expensive) upstream edge build
    edges = _register_cache(edges.persist())
    probe = edges.select("src_host", "dst_host", "weight") \
        .limit(int(driver_edge_cap) + 1).collect()
    if len(probe) <= driver_edge_cap:
        # duplicate (src, dst) rows add up, as in the distributed loop's
        # join + sum — the result is a function of the edge multiset
        ew: dict = {}
        for r in probe:
            k = (r["src_host"], r["dst_host"])
            ew[k] = ew.get(k, 0) + int(r["weight"])
        hosts_l = sorted({h for e in ew for h in e})
        n = len(hosts_l)
        spark = edges.sparkSession
        if n == 0:
            return spark.createDataFrame(
                [], "host string, out_weight long, in_weight long, "
                    "rank_micro long")
        od: dict = {}
        iw: dict = {}
        for (s, t), w in ew.items():
            od[s] = od.get(s, 0) + w
            iw[t] = iw.get(t, 0) + w
        base = ((100 - d) * scale) // (100 * n)
        r = {h: scale // n for h in hosts_l}
        for _ in range(iters):
            cs: dict = {}
            for (s, t), w in ew.items():
                cs[t] = cs.get(t, 0) + w * ((d * r[s]) // (100 * od[s]))
            r = {h: base + cs.get(h, 0) for h in hosts_l}
        return spark.createDataFrame(
            [(h, od.get(h, 0), iw.get(h, 0), r[h]) for h in hosts_l],
            "host string, out_weight long, in_weight long, "
            "rank_micro long")
    # the edge frame feeds outdeg, every contribution round, indeg and
    # the final join — persisted above (registered: ADVICE-r4 cache
    # ownership, released by the caller after materializing); at corpus
    # scale this frame is ≤ hosts², not corpus-shaped
    hosts = _register_cache(
        (edges.select(F.col("src_host").alias("host"))
         .unionAll(edges.select(F.col("dst_host").alias("host")))
         .distinct().persist()))
    n = hosts.count()
    if n == 0:
        # a linkless corpus has no host graph — empty result, not a
        # division by zero (callers treat "no link evidence" explicitly)
        return hosts.select(
            "host", F.lit(0).cast("long").alias("out_weight"),
            F.lit(0).cast("long").alias("in_weight"),
            F.lit(0).cast("long").alias("rank_micro"))
    outdeg = (edges.groupBy("src_host")
              .agg(F.sum("weight").alias("od")))
    base = ((100 - d) * scale) // (100 * n)
    ranks = hosts.select("host",
                         F.lit(scale // n).cast("long").alias("r"))
    for _ in range(iters):
        contrib = (edges
                   .join(ranks, edges["src_host"] == ranks["host"])
                   .join(outdeg, "src_host")
                   .select(F.col("dst_host").alias("host"),
                           (F.col("weight")
                            * F.expr(f"({d} * r) DIV (100 * od)"))
                           .cast("long").alias("c")))
        ranks = (hosts.join(contrib.groupBy("host")
                            .agg(F.sum("c").alias("cs")),
                            "host", "left")
                 .select("host",
                         (F.lit(base)
                          + F.coalesce("cs", F.lit(0))).cast("long")
                         .alias("r"))
                 .localCheckpoint())
    indeg = (edges.groupBy("dst_host")
             .agg(F.sum("weight").alias("iw")))
    out = (hosts
           .join(outdeg.withColumnRenamed("src_host", "host"),
                 "host", "left")
           .join(indeg.withColumnRenamed("dst_host", "host"),
                 "host", "left")
           .join(ranks, "host")
           .select("host",
                   F.coalesce("od", F.lit(0)).cast("long")
                   .alias("out_weight"),
                   F.coalesce("iw", F.lit(0)).cast("long")
                   .alias("in_weight"),
                   F.col("r").alias("rank_micro")))
    return out


# --------------------------------------------------------------------------
# robots.txt gate — crawl-policy compliance (RFC 9309 semantics via the
# stdlib parser). A compliant corpus pipeline must honour per-host
# robots rules before fetching/keeping a page.


def robots_txt_of(host_idx: int) -> str:
    """Deterministic robots.txt builder (the media_meta arithmetic
    device; mirrored by the oracle): EVEN host indices publish a
    specific ``mrebot`` group (RFC group-selection: the specific group
    REPLACES ``*`` for that agent) disallowing ``/articles/`` when
    idx%4==0 else ``/blocked/``; ODD indices publish only a ``*``
    group disallowing ``/articles/`` when idx%3==0 else ``/private/``.
    So for agent 'mrebot' fetching /articles/…:
    even → allowed iff idx%4 != 0; odd → allowed iff idx%3 != 0."""
    i = int(host_idx)
    if i % 2 == 0:
        specific = "/articles/" if i % 4 == 0 else "/blocked/"
        return ("User-agent: *\nDisallow: /private/\n\n"
                f"User-agent: mrebot\nDisallow: {specific}\n"
                f"Crawl-delay: {1 + i % 5}\n")
    general = "/articles/" if i % 3 == 0 else "/private/"
    # odd hosts publish a '*'-group delay only when i % 3 == 1
    delay = f"Crawl-delay: {2 + i % 4}\n" if i % 3 == 1 else ""
    return f"User-agent: *\nDisallow: {general}\n{delay}"


def robots_allowed(urls: DataFrame, robots: DataFrame,
                   agent: str = "mrebot") -> DataFrame:
    """Evaluate per-url robots permission with the REAL stdlib parser
    (urllib.robotparser — RFC group selection, prefix matching).

    ``urls`` carries a ``url`` column; ``robots`` is (host,
    robots_txt) — per-host, so bounded by the host count and
    broadcast into the join. Hosts with no robots row allow everything
    (the crawl convention). The parser is cached per host within each
    Arrow batch — repartitioning the urls by host turns that into one
    parse per host per task at scale. Output: (url, host, allowed,
    crawl_delay_ms) — the matched group's Crawl-delay in integer
    milliseconds (0 when absent), the number a polite fetcher
    schedules with."""
    import pandas as pd

    # canonical host: case-insensitive per RFC, one leading www label
    # stripped — robots tables key on the canonical serving host
    host = F.regexp_replace(
        F.lower(F.regexp_extract("url", r"^[a-zA-Z]+://([^/]+)", 1)),
        r"^www\.", "")
    j = (urls.select("url", host.alias("host"))
         .join(F.broadcast(robots), "host", "left"))

    def _batch(batches):
        from urllib.robotparser import RobotFileParser
        for pdf in batches:
            cache: dict = {}
            out, delays = [], []
            for url, h, txt in zip(pdf["url"], pdf["host"],
                                   pdf["robots_txt"]):
                if txt is None:
                    out.append(1)
                    delays.append(0)
                    continue
                p = cache.get(h)
                if p is None:
                    p = RobotFileParser()
                    p.parse(str(txt).splitlines())
                    cache[h] = p
                try:
                    # can_fetch urlparses the URL and RAISES on e.g.
                    # an unbalanced IPv6 bracket — a malformed corpus
                    # url is a DENY, never a task failure
                    out.append(1 if p.can_fetch(agent, url) else 0)
                except ValueError:
                    out.append(0)
                d = p.crawl_delay(agent)
                delays.append(int(float(d) * 1000) if d else 0)
            yield pd.DataFrame({"url": pdf["url"], "host": pdf["host"],
                                "allowed": pd.Series(out,
                                                     dtype="int64"),
                                "crawl_delay_ms": pd.Series(
                                    delays, dtype="int64")})

    return j.mapInPandas(_batch,
                         "url string, host string, allowed long, "
                         "crawl_delay_ms long")


def fetch_plan(urls: DataFrame, robots: DataFrame,
               agent: str = "mrebot") -> DataFrame:
    """Politeness-scheduled fetch plan — the re-crawl composition:
    keep the robots-ALLOWED urls, rank each host's fetch queue in url
    order, and schedule start_ms = (rank-1) · the host's Crawl-delay
    (0 delay ⇒ everything at t=0). Feed it ``capture_delta``'s
    added+changed rows and the crawl's robots table and the output is
    exactly what a distributed fetcher consumes: (url, host, rank,
    start_ms).

    Shape: ``robots_allowed``'s broadcast join + ONE host-partitioned
    window over the fetch subset (re-crawl candidates, not the
    corpus); a mega-host queue is one partition — cap it upstream if a
    single host's queue outgrows a task."""
    from pyspark.sql import Window
    ra = (robots_allowed(urls, robots, agent=agent)
          .filter(F.col("allowed") == 1))
    w = Window.partitionBy("host").orderBy("url")
    return (ra.withColumn("rank", F.row_number().over(w))
            .select("url", "host", "rank",
                    ((F.col("rank") - 1) * F.col("crawl_delay_ms"))
                    .cast("long").alias("start_ms")))


__all__ = [
    "link_page_html", "link_pages_df", "extract_links", "host_edges",
    "pagerank_hosts", "PAGERANK_SCALE", "PAGERANK_DAMPING_PCT",
    "robots_txt_of", "robots_allowed", "fetch_plan",
]
