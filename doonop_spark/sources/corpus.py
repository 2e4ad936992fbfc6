"""Deterministic synthetic page corpora (FIXTURES.md §1; SURVEY.md §2.1 S4).

The reference fetches live pages over WebDriver (``src/backend.rs:84-88``);
our engine replaces the fetch with a join against a Common-Crawl-style
corpus table with the shape pinned by ``BASELINE.json`` input_hint:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

All generators are pure functions of their parameters (seed-free integer
arithmetic) — same arguments ⇒ byte-identical tables — and are built
entirely from JVM-side expressions (``spark.range`` + ``F.concat``), so a
10^7-row bench corpus materializes without Python in the loop.

Ground truth: ``text`` is embedded HTML-escaped inside ``<main>`` so that
``extract_text(html) == text`` byte-for-byte, and the ``<a href>`` links
written into ``html`` are exactly the site graph described in FIXTURES.md
(binary same-host tree + cross-host edge every k-th page + a duplicate
link for the within-batch dedup exercise + a hot host owning ~30% of all
pages for the skew exercise).

The crawl's side of the corpus lives here too: the bucketed layout
(:func:`write_bucketed_corpus`), the per-crawl choice of the side every
wave's fetch joins (:func:`choose_fetch_side`) and the revisit rule
(:func:`latest_capture`, one :func:`first_per` pick).
"""

from __future__ import annotations

import json
import logging
from dataclasses import dataclass

from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = [
    "fixture_site_corpus",
    "synthetic_corpus",
    "synthetic_robots",
    "pages_from_documents",
    "host_name",
    "page_url",
    "bucket_expr",
    "write_bucketed_corpus",
    "read_bucketed_corpus",
    "corpus_bucket_count",
    "FetchSide",
    "choose_fetch_side",
    "first_per",
    "latest_capture",
]

_EPOCH = "2024-01-01 00:00:00"
_SIDECAR = "_doonop_buckets.json"


def host_name(h: Column) -> Column:
    return F.concat(F.lit("h"), F.lpad(h.cast("string"), 4, "0"), F.lit(".example"))


def page_url(h: Column, p: Column) -> Column:
    return F.concat(F.lit("http://"), host_name(h), F.lit("/p"), p.cast("string"))


def _escape_html(text: Column) -> Column:
    return F.regexp_replace(F.regexp_replace(text, "&", "&amp;"), "<", "&lt;")


def _html_page(links: Column, text: Column, title: Column) -> Column:
    """Assemble a page: anchors (array<string> of hrefs) + escaped <main>."""
    anchors = F.array_join(
        F.transform(links, lambda u: F.concat(F.lit('<a href="'), u, F.lit('">l</a>'))),
        "",
    )
    return F.encode(
        F.concat(
            F.lit("<html><head><title>"),
            title,
            F.lit("</title></head><body>"),
            anchors,
            F.lit("<main>"),
            _escape_html(text),
            F.lit("</main></body></html>"),
        ),
        "utf-8",
    )


def fixture_site_corpus(spark: SparkSession) -> DataFrame:
    """The reference integration fixture site mirrored as a corpus table
    (``tests/www/basic``: index.html links to ./about.html; about.html has
    no links) — reproduces the golden ``visited=2, collected=2, errors=0,
    retries=0`` (reference ``tests/crawling.rs:20-22``)."""
    rows = [
        ("http://localhost:8000/basic/index.html", ["./about.html"], "Index page", "Index"),
        ("http://localhost:8000/basic/about.html", [], "Nothing is here", "About"),
    ]
    df = spark.createDataFrame(
        rows, "url string, links array<string>, text string, title string"
    )
    return df.select(
        "url",
        F.to_timestamp(F.lit(_EPOCH)).alias("warc_ts"),
        _html_page(F.col("links"), F.col("text"), F.col("title")).alias("html"),
        F.col("text").alias("text"),
        F.lit("en").alias("lang"),
    )


def synthetic_corpus(
    spark: SparkSession,
    n_hosts: int = 10,
    n_pages: int = 1_000,
    hot_share: float = 0.3,
    cross_link_every: int = 7,
    partitions: int | None = None,
    filler_words: int = 0,
) -> DataFrame:
    """Deterministic site graph of ``n_pages`` total pages over ``n_hosts``
    hosts. Host 0 ("the hot host") owns ``hot_share`` of all pages; the
    rest are round-robined over hosts 1..n_hosts-1. Page (h, p) links to
    (h, 2p+1) and (h, 2p+2) within the host's page count (binary tree ⇒
    every page reachable from (h, 0)), links to (h, 2p+1) a SECOND time
    (duplicate-link dedup exercise, reference ``src/workload.rs:202-211``),
    and every ``cross_link_every``-th page links to the next host's root.
    """
    hot = int(n_pages * hot_share)
    rest_hosts = max(n_hosts - 1, 1)
    per_rest = (n_pages - hot + rest_hosts - 1) // rest_hosts if n_hosts > 1 else 0

    df = spark.range(0, n_pages, 1, partitions or spark.sparkContext.defaultParallelism)
    # rows [0, hot) → host 0 page i; rows beyond → host 1+((i-hot) % rest), page (i-hot)/rest
    i = F.col("id")
    h = F.when(i < hot, F.lit(0)).otherwise((i - hot) % rest_hosts + 1)
    p = F.when(i < hot, i).otherwise(F.floor((i - hot) / rest_hosts))
    cap = F.when(h == 0, F.lit(hot)).otherwise(F.lit(per_rest))

    child1 = p * 2 + 1
    child2 = p * 2 + 2
    links = F.filter(
        F.array(
            F.when(child1 < cap, page_url(h, child1)),
            F.when(child1 < cap, page_url(h, child1)),  # duplicate, on purpose
            F.when(child2 < cap, page_url(h, child2)),
            F.when(
                (i % cross_link_every == 0) & F.lit(n_hosts > 1),
                page_url((h + 1) % n_hosts, F.lit(0)),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    text = F.concat(
        F.lit("Document for host "),
        host_name(h),
        F.lit(" page "),
        p.cast("string"),
        F.lit(". The quick brown fox & the <angle> case; id="),
        i.cast("string"),
        F.lit("."),
    )
    if filler_words > 0:
        # deterministic page-varying filler so bench pages have realistic
        # (KB-scale) bodies and the extract stage is genuinely CPU-bound
        filler = F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(filler_words)),
                lambda w: F.concat(F.lit("w"), F.pmod(w * 2654435761 + i, F.lit(9973)).cast("string")),
            ),
            " ",
        )
        text = F.concat(text, F.lit(" "), filler)
    return df.select(
        page_url(h, p).alias("url"),
        (F.to_timestamp(F.lit(_EPOCH)) + F.make_dt_interval(secs=i)).alias("warc_ts"),
        _html_page(links, text, page_url(h, p)).alias("html"),
        text.alias("text"),
        F.element_at(F.array(F.lit("en"), F.lit("de"), F.lit("fr")), (p % 3 + 1).cast("int")).alias("lang"),
    )


def synthetic_robots(
    spark: SparkSession,
    n_hosts: int = 10,
    disallow: dict[int, str] | None = None,
    crawl_delay: dict[int, float] | None = None,
    missing: set[int] = frozenset(),
) -> DataFrame:
    """Per-host robots table ``(host, robots_txt)``. ``disallow`` maps host
    index → disallowed path prefix; ``missing`` hosts get NO row (models
    the fetch-error ⇒ silently-skipped semantics, ``src/workload.rs:100-109``)."""
    disallow = disallow or {}
    crawl_delay = crawl_delay or {}
    rows = []
    for h in range(n_hosts):
        if h in missing:
            continue
        body = "User-agent: *\n"
        if h in disallow:
            body += f"Disallow: {disallow[h]}\n"
        if h in crawl_delay:
            body += f"Crawl-delay: {crawl_delay[h]}\n"
        rows.append((f"h{h:04d}.example", body))
    return spark.createDataFrame(rows, "host string, robots_txt string")


def bucket_expr(url: Column, n_buckets: int) -> Column:
    """The corpus storage-bucket key: ``pmod(xxhash64(url), B)``. Both the
    writer and the wave side MUST derive the bucket from this expression —
    it is the contract that makes per-wave scan pruning sound."""
    return F.pmod(F.xxhash64(url), F.lit(n_buckets)).cast("int")


def write_bucketed_corpus(corpus: DataFrame, path: str, n_buckets: int = 64) -> None:
    """Persist a corpus hash-partitioned by ``bucket = pmod(xxhash64(url), B)``
    as a partitioned parquet layout (``{path}/bucket=…/``) — the sandbox
    stand-in for an Iceberg table bucket-partitioned by url hash. The
    per-wave fetch join (plans/loop.py) then prunes the corpus scan to the
    wave's buckets via a partition predicate: at 100 TB, a wave touching k
    of B buckets reads k/B of the corpus instead of rescanning all of it
    every wave (the round-1 scale-killer; reference analog: the fetch IS
    the engine's whole cost, src/backend.rs:84-88)."""
    (
        corpus.withColumn("bucket", bucket_expr(F.col("url"), n_buckets))
        # co-locate rows of one bucket into one file set; parquet
        # partitionBy then maps bucket → directory, prunable at scan time
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    # B travels WITH the layout: pmod(xxhash64(url), B') with B' ≠ B maps
    # urls to partition values that don't exist, silently turning every
    # fetch into a miss.
    _write_bucket_count(corpus.sparkSession, path, n_buckets)


def _sidecar(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of a bucketed layout's bucket-count sidecar,
    through Hadoop's filesystem API so any URI the layout lives on (hdfs://,
    s3a://, file://, a plain path) holds it next to the data. The name is
    underscore-prefixed, so Spark's file listing skips it like _SUCCESS."""
    sidecar = spark._jvm.org.apache.hadoop.fs.Path(path, _SIDECAR)
    return sidecar.getFileSystem(spark._jsc.hadoopConfiguration()), sidecar


def _write_bucket_count(spark: SparkSession, path: str, n_buckets: int) -> None:
    """Record the bucket count a hash-bucketed layout at ``path`` was
    written with (the corpus here, the columnar CDX index in cdx.py)."""
    fs, sidecar = _sidecar(spark, path)
    out = fs.create(sidecar, True)
    try:
        out.write(json.dumps({"n_buckets": n_buckets}).encode())
    finally:
        out.close()


def _read_bucket_count(spark: SparkSession, path: str) -> int | None:
    """The bucket count :func:`_write_bucket_count` recorded for the
    layout at ``path``; None when the layout has no sidecar."""
    fs, sidecar = _sidecar(spark, path)
    if not fs.exists(sidecar):
        return None
    stream = fs.open(sidecar)
    try:
        return int(json.loads(bytes(stream.readAllBytes()))["n_buckets"])
    finally:
        stream.close()


def read_bucketed_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Read a corpus written by :func:`write_bucketed_corpus`; the
    ``bucket`` partition column stays on the frame so the crawl loop can
    push a pruning predicate into the scan. The layout's bucket count is
    attached as column metadata on ``bucket`` (key ``n_buckets``), so the
    fetch prunes with the modulus the layout was written with. Any other
    parquet path reads as is."""
    df = spark.read.parquet(path)
    if "bucket" not in df.columns:
        return df
    n = _read_bucket_count(spark, path)
    if n is None:
        return df
    return df.withColumn("bucket", F.col("bucket").alias("bucket", metadata={"n_buckets": n}))


def corpus_bucket_count(corpus: DataFrame) -> int | None:
    """The bucket count a corpus frame was written with, if known (column
    metadata set by :func:`read_bucketed_corpus`); None otherwise."""
    if "bucket" not in corpus.columns:
        return None
    md = corpus.schema["bucket"].metadata
    return int(md["n_buckets"]) if "n_buckets" in md else None


@dataclass
class FetchSide:
    """The corpus side every wave's fetch left-joins, chosen once per crawl
    (:func:`choose_fetch_side`). It changes the physical plan, never the
    result."""

    kind: str  # "cached" | "bucketed" | "raw"
    df: DataFrame
    keys: list[str] | str
    n_buckets: int = 0  # the corpus layout's B; 0 = not bucketed

    def join(self, wave: DataFrame, buckets: list[int] | None) -> DataFrame:
        """``wave`` left-joined with the side; a bucket-pruned side scans
        only ``buckets`` (the wave's bucket set or a superset; None prunes
        nothing)."""
        side = self.df
        if self.kind == "bucketed":
            wave = wave.withColumn("bucket", bucket_expr(F.col("url"), self.n_buckets))
            if buckets is not None:
                side = side.filter(F.col("bucket").isin(buckets))
        return wave.join(side, on=self.keys, how="left")

    def release(self) -> None:
        if self.kind == "cached":
            self.df.unpersist(blocking=False)


def choose_fetch_side(
    corpus: DataFrame,
    cache_max_bytes: int = 0,
    dedup_captures: bool = False,
) -> FetchSide:
    """Pick the fetch side, in this order of precedence (logged at INFO
    with the size estimate and the cache budget):

    1. **cached**: the optimizer's size estimate for ``corpus`` fits
       ``cache_max_bytes``. The fetch projection is persisted once
       (MEMORY_AND_DISK), hash-partitioned and sorted by url, so every
       wave's SortMergeJoin reads it with no corpus-side Exchange or Sort
       (guide §5: reuse × recompute cost). At 100 TB it never fits.
    2. **bucketed**: a corpus read by :func:`read_bucketed_corpus`, whose
       ``bucket`` column carries the layout's B; joined on
       ``(bucket, url)``, and each wave's bucket set is pushed into the
       scan as a partition predicate (the 100 TB plan).
    3. **raw**: the corpus, joined on url. A ``bucket`` column whose B is
       unknown joins raw too: pruning with a guessed modulus would
       silently miss every page.
    """
    n_buckets = corpus_bucket_count(corpus) or 0

    est = None
    if cache_max_bytes > 0:
        try:
            est = int(corpus._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except (AttributeError, Py4JError):  # no JVM plan, or no statistics
            pass
    if est is not None and est <= cache_max_bytes:
        n_shuffle = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        cached = (
            corpus.select("url", "html", *(["warc_ts"] if dedup_captures else []))
            .repartition(n_shuffle, "url")
            .sortWithinPartitions("url")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        side = FetchSide("cached", cached, "url", n_buckets)
    elif n_buckets:
        side = FetchSide("bucketed", corpus, ["bucket", "url"], n_buckets)
    else:
        side = FetchSide("raw", corpus, "url")
    logging.getLogger("doonop_spark").info(
        "fetch side %s (corpus estimate %s bytes, cache budget %d bytes)",
        side.kind,
        est,
        cache_max_bytes,
    )
    return side


def first_per(df: DataFrame, key: str, *order: Column) -> DataFrame:
    """The first row of each ``key`` group under ``order``: one
    ``row_number`` window, rank 1 kept. Every capture pick (the crawl's
    revisit rule and the CDX index's latest and closest captures) is one
    call; ``order`` must be total for the pick to be deterministic."""
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__first_rn", F.row_number().over(w))
        .filter(F.col("__first_rn") == 1)
        .drop("__first_rn")
    )


def latest_capture(pages: DataFrame) -> DataFrame:
    """Revisit semantics: a WARC corpus may legally hold several captures
    of one URL, and a fetch returns ONE page per URL — the latest capture
    wins, ties broken by html hash so the pick is deterministic. The crawl
    applies it to each wave's fetch join (``CrawlJob.dedup_captures``; the
    window reuses the join's url-keyed exchange, never a corpus-side
    shuffle) and the CLI's WAT sink to the visited pages, so both pick the
    same capture."""
    return first_per(
        pages, "url", F.desc_nulls_last("warc_ts"), F.desc(F.xxhash64(F.col("html")))
    )


def pages_from_documents(
    spark: SparkSession, docs: DataFrame, n_hosts: int = 20
) -> DataFrame:
    """Derive a corpus from the driver's ``documents`` table (TESTDATA.md):
    doc ``i`` becomes page ``http://h{i % n_hosts}.example/d{i}`` whose text
    is the document text and whose links form a binary tree over doc ids
    (2i+1, 2i+2) — BFS from doc 0 reaches every document. Deterministic:
    same input table ⇒ byte-identical corpus."""
    n_docs = docs.count()
    i = F.col("doc_id")

    def doc_url(j: Column) -> Column:
        return F.concat(
            F.lit("http://h"),
            F.lpad((j % n_hosts).cast("string"), 4, "0"),
            F.lit(".example/d"),
            j.cast("string"),
        )

    links = F.filter(
        F.array(
            F.when(i * 2 + 1 < n_docs, doc_url(i * 2 + 1)),
            F.when(i * 2 + 2 < n_docs, doc_url(i * 2 + 2)),
        ),
        lambda x: x.isNotNull(),
    )
    return docs.select(
        doc_url(i).alias("url"),
        (F.to_timestamp(F.lit(_EPOCH)) + F.make_dt_interval(secs=i)).alias("warc_ts"),
        _html_page(links, F.col("text"), doc_url(i)).alias("html"),
        F.col("text"),
        F.col("lang"),
    )
