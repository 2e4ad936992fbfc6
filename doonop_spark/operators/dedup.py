"""Seen-set deduplication — the crawl engine's "aggregation"
(SURVEY.md §2.5 D1-D3; reference ``src/workload.rs:202-226``).

Reference semantics:

- D1: a URL enters the frontier iff ``seen_list.insert(url)`` is fresh —
  dedup happens at *enqueue* time for both seeds and discovered links, so
  the seen set is "everything ever enqueued", not "everything visited".
- D3: ``filter_urls`` checks incrementally, so duplicates *within one
  batch of links* also collapse, first occurrence kept.
- D2: a URL whose retries are exhausted is (re)inserted into seen — a
  terminal state; it is never revisited.

Spark shape: partial dedup inside the batch (window first-occurrence) then
a left-anti join against the seen table on ``url_hash`` *and* ``url`` (the
hash is the shuffle/join key; the string comparison keeps 64-bit
collisions harmless — at 10^10 URLs a few xxhash64 collisions are
expected). An optional partitioned bloom sidecar (operators/bloom.py)
flags candidates first, and :func:`anti_join_flagged` sends only the
maybe-seen ones through the exact anti-join; a bloom false positive only
costs an exact probe, never a drop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["dedup_within_batch", "anti_join_seen", "anti_join_flagged", "SEEN_COLS"]

# ukey is the seen-set key string: the canonical URL in parity mode, the
# SURT key in surt mode (plans/loop.py sets it); url_hash = xxhash64(ukey).
SEEN_COLS = ["url_hash", "ukey"]


def dedup_within_batch(links: DataFrame, order_cols: list) -> DataFrame:
    """D3 — collapse duplicates inside one wave's discovered links, keeping
    the first occurrence in enqueue order (``order_cols``: Columns or
    column-name strings, ascending when given as strings)."""
    order = [F.col(c).asc() if isinstance(c, str) else c for c in order_cols]
    w = Window.partitionBy(*SEEN_COLS).orderBy(*order)
    return (
        links.withColumn("__occ", F.row_number().over(w))
        .filter(F.col("__occ") == 1)
        .drop("__occ")
    )


def anti_join_seen(links: DataFrame, seen: DataFrame) -> DataFrame:
    """D1 — keep links whose canonical URL was never enqueued."""
    return links.join(seen.select(*SEEN_COLS), on=SEEN_COLS, how="left_anti")


def anti_join_flagged(flagged: DataFrame, seen: DataFrame, tail=()) -> DataFrame:
    """D1 over links a bloom has flagged (``__maybe``: True = maybe seen).
    Maybe-seen rows take the exact anti-join against ``seen``; cleared rows
    are only anti-joined with the ``tail`` frames, the seen deltas the bloom
    does not cover yet. ``flagged`` must be materialized: filtering an
    unmaterialized pipeline on the flag and its negation would re-run the
    whole upstream plan, and the probe, twice (measured 4.4× wave cost in
    the crawl loop)."""
    checked = flagged.filter(F.col("__maybe")).drop("__maybe")
    checked = checked.join(seen.select(*SEEN_COLS), on=SEEN_COLS, how="left_anti")
    fresh = flagged.filter(~F.col("__maybe")).drop("__maybe")
    for recent in tail:
        fresh = fresh.join(recent.select(*SEEN_COLS), on=SEEN_COLS, how="left_anti")
    return checked.unionByName(fresh)
