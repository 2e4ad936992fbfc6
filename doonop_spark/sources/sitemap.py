"""Sitemap seed expansion (SURVEY.md §2.1 S6; reference
``scripts/sitemap.sh:12-23``: curl robots.txt → ``Sitemap:`` lines →
xpath ``/urlset/url/loc/text()``).

Spark shape: both steps are table transforms —

1. :func:`sitemap_urls_from_robots` — pull ``Sitemap:`` declarations out
   of the robots table (JVM regexp, one pass).
2. :func:`expand_sitemaps` — join those sitemap URLs against the corpus
   and extract ``<loc>`` entries from the XML bodies (JVM
   ``regexp_extract_all``; sitemap XML is flat enough that a full parser
   buys nothing), yielding seed URLs to union into the frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["sitemap_urls_from_robots", "expand_sitemaps"]


def sitemap_urls_from_robots(robots: DataFrame) -> DataFrame:
    """robots(host, robots_txt) → (host, sitemap_url) per Sitemap: line."""
    return (
        robots.select(
            "host",
            F.explode(
                F.regexp_extract_all(
                    F.col("robots_txt"), F.lit(r"(?i)sitemap:\s*(\S+)"), F.lit(1)
                )
            ).alias("sitemap_url"),
        )
    )


def expand_sitemaps(sitemap_urls: DataFrame, corpus: DataFrame) -> DataFrame:
    """(host, sitemap_url) ⋈ corpus on url → exploded <loc> seed URLs.
    Sitemaps missing from the corpus are skipped silently (fetch-miss
    semantics, same as robots F6)."""
    # broadcast the tiny robots-derived sitemap-URL set so the corpus —
    # including html:binary — streams through a BroadcastHashJoin probe
    # instead of shuffling in a sort-merge join (100 TB: one corpus scan,
    # zero corpus shuffle)
    xml = corpus.select(F.col("url").alias("sitemap_url"), "html").join(
        F.broadcast(sitemap_urls.select("host", "sitemap_url")), "sitemap_url"
    )
    locs = xml.select(
        "host",
        F.explode(
            F.regexp_extract_all(
                F.decode(F.col("html"), "utf-8"),
                F.lit(r"<loc>\s*([^<\s]+)\s*</loc>"),
                F.lit(1),
            )
        ).alias("url"),
    )
    return locs.select("url").distinct()
