"""Seed sources (SURVEY.md §2.1 S1/S2, §2.4 F4).

Reference: positional CLI urls (``src/cfg.rs:200-204``) + optional
url-per-line seed file (``src/cfg.rs:185-198``), then
``clean_urls`` = sort + dedup + filter (``src/cfg.rs:338-342``). The sort
also pins the initial LIFO order: the lexicographically-last seed is
popped (dispatched) first.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doonop_spark.functions.canonical import host_expr, url_hash_col
from doonop_spark.operators.filters import Filter

__all__ = [
    "seed_frontier",
    "seed_frontier_distributed",
]


def _frontier_rows(seeds: DataFrame) -> DataFrame:
    """``(url, ukey, seq)`` seed rows → wave-0 frontier rows."""
    return seeds.select(
        "url",
        "ukey",
        url_hash_col(F.col("ukey")).alias("url_hash"),
        host_expr(F.col("url")).alias("host"),
        F.lit(0).alias("depth"),
        "seq",
        F.lit(False).alias("is_retry"),
        F.lit(0).alias("retry_count"),
        F.lit(0.0).alias("retry_at"),
    )


def seed_frontier(
    spark: SparkSession, cleaned: list[str], url_key: str = "parity"
) -> DataFrame:
    """Cleaned (sorted) seeds → initial frontier rows. ``seq`` follows the
    sorted order, so LIFO pop (max seq first) dispatches the
    lexicographically-last seed first, exactly like ``urls_pool.pop()``
    over the sorted seed vector (``src/cfg.rs:339``, ``src/workload.rs:230``).

    ``ukey`` is the seen-set key: the canonical URL itself in parity mode,
    the SURT key in surt mode.

    The rows are built as an Arrow table, which Spark turns into a JVM
    ``LocalRelation``: no Python RDD, so no Python task reads the seeds.
    """
    from doonop_spark.functions.canonical import surt_key

    seeds = pa.table(
        {
            "url": pa.array(cleaned, pa.string()),
            "ukey": pa.array(
                [surt_key(u) for u in cleaned] if url_key == "surt" else cleaned, pa.string()
            ),
            "seq": pa.array(range(len(cleaned)), pa.int64()),
        }
    )
    return _frontier_rows(spark.createDataFrame(seeds))


def seed_frontier_distributed(
    spark: SparkSession,
    cleaned: list[str],
    extra_urls: DataFrame,
    url_key: str = "parity",
    filters: list[Filter] = (),
) -> DataFrame:
    """Wave-0 frontier from CLI seeds PLUS a *DataFrame* of extra seed URLs
    (column ``url``) — the scale path for sitemap expansion (S6): millions
    of ``<loc>`` entries never round-trip through a driver list.

    Semantics match ``seed_frontier(clean_seeds(cli + extra))`` exactly:
    canonicalize, filter, dedup, and ``seq`` = rank in the merged sorted
    order (the sort pins the initial LIFO order, ``src/cfg.rs:338-342``).
    One difference by design: invalid URLs in ``extra_urls`` are *dropped*
    (they are discovered content, like links — F5), while invalid CLI
    seeds still raise in ``clean_seeds`` upstream.

    Scale shape: the sorted rank is range-repartition + within-partition
    sort + the monotonically_increasing_id (partition, offset)
    decomposition with per-partition cumulative offsets from one tiny agg —
    never a single-partition window, never a driver materialization of the
    seed set.
    """
    from doonop_spark.functions.canonical import canonicalize_udf, surt_key_udf
    from doonop_spark.operators.filters import apply_link_filters

    cli = spark.createDataFrame(pa.table({"url": pa.array(cleaned, pa.string())}))
    extra = extra_urls.select(
        canonicalize_udf(F.col("url").cast("string")).alias("url")
    ).filter(F.col("url").isNotNull())
    urls = apply_link_filters(cli.unionByName(extra), list(filters))
    urls = urls.dropDuplicates(["url"])

    n = spark.sparkContext.defaultParallelism
    # range-partitioned sort: partition i of the checkpointed frame holds
    # the i-th url range, sorted within — so (partition index, row offset)
    # IS the global sorted rank once per-partition offsets are added. The
    # key is computed before the checkpoint, so a surt key's Python UDF
    # runs once however often the seed frame is read.
    ukey = surt_key_udf(F.col("url")) if url_key == "surt" else F.col("url")
    ordered = (
        urls.repartitionByRange(n, F.asc("url"))
        .sortWithinPartitions("url")
        .select("url", ukey.alias("ukey"))
        .localCheckpoint(eager=True)
    )
    mid = F.monotonically_increasing_id()
    pid = F.shiftright(mid, 33).cast("int")
    pcounts = sorted(
        (r["pid"], r["n"])
        for r in ordered.groupBy(pid.alias("pid")).agg(F.count("*").alias("n")).collect()
    )
    offs, acc = {}, 0
    for p_, n_ in pcounts:
        offs[p_] = acc
        acc += n_
    off_expr = (
        F.element_at(F.create_map(*[F.lit(v) for kv in offs.items() for v in kv]), pid)
        if offs
        else F.lit(0)
    )
    seq = (off_expr + mid.bitwiseAND(F.lit((1 << 33) - 1))).cast("long")
    return _frontier_rows(ordered.select("url", "ukey", seq.alias("seq")))
