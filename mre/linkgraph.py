"""Crawl-policy operators: robots.txt evaluation and the politeness-
scheduled fetch plan that ``scripts/run_recrawl.py --robots`` runs.

* ``robots_allowed`` — per-url permission and Crawl-delay through the
  stdlib robots parser, with the per-host robots table broadcast into
  the join.
* ``fetch_plan`` — the allowed urls ranked per host, each scheduled at
  (rank-1) · the host's Crawl-delay.

Scale shape: one broadcast join over the url frame plus one
host-partitioned window over the fetch subset, never the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# robots.txt gate — crawl-policy compliance (RFC 9309 semantics via the
# stdlib parser). A compliant corpus pipeline must honour per-host
# robots rules before fetching/keeping a page.


def robots_txt_of(host_idx: int) -> str:
    """Deterministic robots.txt builder (pure host-index arithmetic,
    mirrored by the oracle): EVEN host indices publish a
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


__all__ = ["robots_txt_of", "robots_allowed", "fetch_plan"]
