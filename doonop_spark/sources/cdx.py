"""CDX capture index over WARC archives — the Common Crawl access
pattern the corpus format implies (SURVEY.md §2.1 extension, companion
to :mod:`doonop_spark.sources.warc`).

Common Crawl ships three artifacts per crawl: the ``.warc.gz`` segments,
the WET extracts, and a **CDX index** — one line per capture, keyed by
SURT, carrying ``(timestamp, url, mime, status, digest, length, offset,
filename)`` where ``offset``/``length`` locate the capture's own gzip
member inside its archive so a client fetches ONE page with an HTTP
range request instead of scanning a segment. This module produces and
consumes that index:

- :func:`cdx_index` — distributed index build: one task per archive
  through the scan ``read_warc`` uses (``warc._scan_archives``: same
  path rule, batching and skipped-byte log), streaming member-by-member
  so task memory is O(member): O(record) for Common Crawl's
  one-record-per-member layout, but the whole inflated archive for a
  ``.warc.gz`` written as one member. Offsets come from
  counting *compressed* bytes per gzip member (``.warc.gz``) or record
  spans in the raw byte stream (plain ``.warc``).
- :func:`read_warc_record` / :func:`fetch_cdx` — random access: seek to
  ``offset``, read ``length`` bytes, inflate one member and return the
  record the index row names (its ``url`` and ``ts14``), so a member
  holding several records still returns each capture's own page. Every
  capture of such a member shares its offset, so each one re-inflates
  the member from its start.
  ``fetch_cdx`` is the distributed form (an indexed subset → pages) — it
  repartitions by filename and seeks ascending offsets so each task
  streams forward through one archive.
- :func:`write_cdxj` / :func:`read_cdxj` — the CDXJ text interchange
  form, written as globally SURT-ordered shards (range partition +
  in-partition sort, Common Crawl's ``cdx-NNNNN.gz`` layout).
- :func:`write_cdx_parquet` / :func:`lookup_cdx_parquet` — the columnar
  index, the one pruned point lookup (bucket directories + row-group
  stats).
- :func:`closest_capture` / :func:`latest_capture` — one capture per
  SURT, each a :func:`~doonop_spark.sources.corpus.first_per` pick.

Deviation from Common Crawl's field conventions, chosen for
oracle-ability: ``digest`` is lowercase-hex SHA-256 of the *decoded*
page bytes (CC uses base32 SHA-1 of the raw payload). Everything else —
SURT key, ts14 timestamp, member-exact offsets — matches.

At 100 TB: the index build is a single 10^5-task scan emitting ~100
bytes per capture (3-4 orders of magnitude smaller than the corpus —
index rows shuffle freely); the CDXJ sort is one range-shuffle of that
small table; random access reads exactly the bytes a capture's member
occupies.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import logging
import re
import zlib
from collections.abc import Iterator
from typing import BinaryIO

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doonop_spark.sources.corpus import (
    _read_bucket_count,
    _write_bucket_count,
    bucket_expr,
    first_per,
)
from doonop_spark.sources.warc import (
    _http_status_mime,
    _is_gzip,
    _iter_warc_raw,
    _local_path,
    _payload,
    _scan_archives,
)

__all__ = [
    "iter_gzip_members",
    "cdx_index",
    "read_warc_record",
    "fetch_cdx",
    "write_cdxj",
    "read_cdxj",
    "closest_capture",
    "latest_capture",
    "recrawl_due",
    "write_cdx_parquet",
    "lookup_cdx_parquet",
]

_log = logging.getLogger(__name__)

_CDX_SCHEMA = (
    "url string, __ts string, status int, mime string, digest string, "
    "length long, offset long, filename string"
)
# the columns of every index frame (cdx_index, read_cdxj), in order
_CDX_COLS = (
    "url", "surt", "warc_ts", "ts14", "status", "mime", "digest", "length",
    "offset", "filename",
)


def iter_gzip_members(
    fh: BinaryIO, chunk_size: int = 1 << 20
) -> Iterator[tuple[int, int, bytes]]:
    """Yield ``(offset, compressed_length, inflated_bytes)`` per gzip
    member of a multi-member stream — the member boundaries ARE the CDX
    coordinates for a ``.warc.gz`` (one record per member, the Common
    Crawl convention). Memory is O(member): O(record) in that layout,
    but the whole inflated archive for an archive written as one member,
    whose captures then all share one offset, so random access into it
    re-inflates the member from its start for every capture. A corrupt
    member stops the scan (the caller logs how many bytes of the archive
    were indexed)."""
    next_off = 0  # absolute offset of the next compressed byte to consume
    tail = b""
    d: zlib._Decompress | None = None
    member_start = 0
    out = bytearray()
    while True:
        chunk = tail if tail else fh.read(chunk_size)
        tail = b""
        if not chunk:
            return  # clean EOF, or a truncated trailing member (not indexable)
        if d is None:
            d = zlib.decompressobj(16 + zlib.MAX_WBITS)
            member_start = next_off
            out = bytearray()
        try:
            out += d.decompress(chunk)
        except zlib.error:
            _log.warning(
                "gzip member at offset %d is corrupt; stopping index scan",
                member_start,
            )
            return
        next_off += len(chunk)
        if d.eof:
            unused = d.unused_data
            comp_len = (next_off - len(unused)) - member_start
            yield member_start, comp_len, bytes(out)
            next_off -= len(unused)
            tail = unused
            d = None


def _indexed_records(
    fh: BinaryIO, path: str, skipped: list[int]
) -> Iterator[tuple[int, int, dict[str, str], bytes]]:
    """``(offset, length, headers, block)`` per record of one archive:
    compressed member coordinates for ``.warc.gz``, raw record spans for
    plain ``.warc``."""
    if not _is_gzip(fh):
        yield from _iter_warc_raw(fh, skipped=skipped)
        return
    for off, clen, data in iter_gzip_members(fh):
        recs = list(_iter_warc_raw(io.BytesIO(data), skipped=skipped))
        if len(recs) > 1:
            # non-CC layout: the records share the member's coordinates,
            # so random access inflates the whole member and picks by
            # (url, ts14)
            _log.warning(
                "%s: gzip member at %d holds %d records", path, off, len(recs)
            )
        for _o, _s, headers, block in recs:
            yield off, clen, headers, block


def _cdx_rows_for_file(path: str, skipped: list[int]) -> Iterator[tuple[tuple, int]]:
    """Index one archive: ``(url, ts, status, mime, digest, length,
    offset, filename)`` per ``response`` capture, as the ``(row, payload
    bytes)`` pairs :func:`~doonop_spark.sources.warc._scan_archives`
    batches; an index row carries no payload."""
    with open(_local_path(path), "rb") as fh:
        for off, length, headers, block in _indexed_records(fh, path, skipped):
            url = headers.get("warc-target-uri")
            if headers.get("warc-type") != "response" or not url:
                continue
            status, mime = _http_status_mime(block)
            digest = hashlib.sha256(_payload(headers, block)).hexdigest()
            ts = headers.get("warc-date", "")
            yield (url, ts, status, mime, digest, length, off, path), 0


def cdx_index(spark: SparkSession, path_glob: str) -> DataFrame:
    """``.warc``/``.warc.gz`` archives → capture index
    ``(url, surt, warc_ts, ts14, status, mime, digest, length, offset,
    filename)``. One task per archive, streaming, shuffle-free — the
    output is ~100 bytes/capture, so the index of a 100 TB crawl is a
    few GB and joins broadcast-side downstream. ``surt`` is computed
    JVM→Arrow-batched from ``url`` (same key as ``CrawlJob.url_key=
    'surt'``), ``ts14`` is the CDX timestamp form of ``WARC-Date``.
    ``path_glob`` follows :func:`~doonop_spark.sources.warc.read_warc`'s
    path rule; ``filename`` is each archive's path as listed."""
    from doonop_spark.functions.canonical import surt_key_udf

    parsed = _scan_archives(spark, path_glob, _cdx_rows_for_file, _CDX_SCHEMA)
    # ts14 comes straight from the WARC-Date digits (UTC by spec) — not
    # from the parsed timestamp — so it is session-timezone-independent;
    # _record_at applies the same rule in Python
    ts14 = F.substring(F.regexp_replace(F.col("__ts"), "[^0-9]", ""), 1, 14)
    return parsed.select(
        "*", surt_key_udf(F.col("url")).alias("surt"), ts14.alias("ts14")
    ).select(*_CDX_COLS)


def _record_at(
    data: bytes, url: str | None = None, ts14: str | None = None
) -> tuple[str, str, bytes]:
    """The WARC record in ``data`` (inflating a leading gzip member chain
    first) that an index row names → (url, warc_date, decoded_body): the
    ``response`` whose target URI is ``url`` and whose ``WARC-Date``
    gives ``ts14``, either left out matching any. With neither, the first
    record. A member holding several records shares one offset, so the
    pick, not the offset, tells its captures apart."""
    fh = io.BytesIO(data)
    stream = gzip.GzipFile(fileobj=fh) if _is_gzip(fh) else fh
    pick = url is not None or ts14 is not None
    for _o, _s, headers, block in _iter_warc_raw(stream):
        u, ts = headers.get("warc-target-uri", ""), headers.get("warc-date", "")
        if not pick or (
            headers.get("warc-type") == "response"
            and url in (None, u)
            and ts14 in (None, re.sub("[^0-9]", "", ts)[:14])  # cdx_index's rule
        ):
            return u, ts, _payload(headers, block)
    raise ValueError(f"no WARC record for {url} {ts14} at the given offset")


def read_warc_record(
    path: str,
    offset: int,
    length: int | None = None,
    url: str | None = None,
    ts14: str | None = None,
) -> tuple[str, str, bytes]:
    """Random access — the CDX client pattern (Common Crawl serves this
    as an HTTP range request): seek to ``offset``, read ``length``
    bytes, inflate the gzip member (or parse the raw record for a plain
    ``.warc``), return ``(url, warc_date, page_bytes)`` of the record an
    index row's ``url`` and ``ts14`` name (the first record without
    them)."""
    with open(_local_path(path), "rb") as fh:
        fh.seek(offset)
        data = fh.read(length) if length is not None else fh.read()
    return _record_at(data, url, ts14)


def fetch_cdx(cdx: DataFrame) -> DataFrame:
    """Distributed random access: an indexed subset (any filter over a
    :func:`cdx_index` frame) → ``(url, warc_ts, html)`` pages, WITHOUT
    scanning the archives. Repartitions by ``filename`` so one task
    handles one archive's selected members, seeking in ascending offset
    order (forward-only disk reads). The fetch cost is proportional to
    the *selected* bytes — at 100 TB this is the difference between
    re-reading a crawl and plucking 10^3 pages out of it."""
    sel = cdx.select("filename", "offset", "length", "url", "ts14").repartition(
        "filename"
    )

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fn, grp in pdf.groupby("filename", sort=True):
                rows: list[tuple[str, str, bytes]] = []
                with open(_local_path(str(fn)), "rb") as fh:
                    for off, ln, url, ts14 in sorted(
                        zip(grp["offset"], grp["length"], grp["url"], grp["ts14"])
                    ):
                        fh.seek(int(off))
                        rows.append(_record_at(fh.read(int(ln)), url, ts14))
                yield pd.DataFrame(rows, columns=["url", "__ts", "html"])

    pages = sel.mapInPandas(fetch, schema="url string, __ts string, html binary")
    return pages.select(
        "url", F.try_to_timestamp(F.col("__ts")).alias("warc_ts"), "html"
    )


_CDXJ_META = "url string, digest string, mime string, status int, length long, offset long, filename string"


def write_cdxj(cdx: DataFrame, out_dir: str, n_shards: int | None = None) -> None:
    """CDXJ sink: ``<surt> <ts14> {json}`` lines, gzip text shards that
    are **globally SURT-ordered** — ``repartitionByRange(surt, ts14)``
    makes the shard order the global order and ``sortWithinPartitions``
    orders lines inside each (Common Crawl's ``cdx-NNNNN.gz`` layout), so
    the shards interchange with CDX tools. One range-shuffle of the small
    index table; the corpus is never touched. Pruned point lookups go
    through the columnar index (:func:`lookup_cdx_parquet`); over CDXJ a
    lookup is :func:`read_cdxj` plus a ``surt`` filter."""
    ranged = (
        cdx.repartitionByRange(n_shards, "surt", "ts14")
        if n_shards
        else cdx.repartitionByRange("surt", "ts14")
    )
    line = F.concat_ws(
        " ",
        F.col("surt"),
        F.col("ts14"),
        F.to_json(
            F.struct("url", "digest", "mime", "status", "length", "offset", "filename")
        ),
    )
    (
        ranged.sortWithinPartitions("surt", "ts14")
        .select(line.alias("value"))
        .write.option("compression", "gzip")
        .mode("overwrite")
        .text(out_dir)
    )


def read_cdxj(spark: SparkSession, path: str) -> DataFrame:
    """CDXJ shards → the :func:`cdx_index` frame shape (``warc_ts``
    reconstructed from ``ts14``). Plain distributed text scan."""
    raw = spark.read.text(path)
    surt = F.substring_index(F.col("value"), " ", 1)
    ts14 = F.element_at(F.split(F.col("value"), " ", 3), 2)
    meta = F.from_json(
        F.expr("substring(value, length(substring_index(value, ' ', 2)) + 2)"),
        _CDXJ_META,
    )
    warc_ts = F.try_to_timestamp(ts14, F.lit("yyyyMMddHHmmss"))
    return raw.select(
        meta.alias("m"), surt.alias("surt"), warc_ts.alias("warc_ts"), ts14.alias("ts14")
    ).select("m.*", "surt", "warc_ts", "ts14").select(*_CDX_COLS)


def closest_capture(cdx: DataFrame, target_ts: str) -> DataFrame:
    """Wayback-style temporal lookup: for every SURT, the capture nearest
    in time to ``target_ts`` (any Spark-parseable timestamp string); ties
    break to the EARLIER capture, then ``(offset, filename)`` so the pick
    is total-ordered and deterministic. One window over the small index
    frame partitioned by ``surt`` — the corpus is never touched, and at
    100 TB the per-SURT capture lists are tiny (revisit counts), so the
    window never sees a skewed partition."""
    diff = F.abs(
        F.unix_timestamp(F.col("warc_ts"))
        - F.unix_timestamp(F.lit(target_ts).cast("timestamp"))
    )
    return first_per(
        cdx, "surt", diff.asc(), F.col("warc_ts").asc(), F.col("offset").asc(),
        F.col("filename").asc(),
    )


def write_cdx_parquet(cdx: DataFrame, out_dir: str, n_buckets: int = 64) -> None:
    """Columnar capture index — the Common Crawl *cc-index* analog, and
    the form point lookups are served from (:func:`lookup_cdx_parquet`;
    read the whole index with ``spark.read.parquet``). Hive-
    partitioned parquet on ``surt_bucket = pmod(xxhash64(surt), n)`` with
    SURT-sorted files inside each bucket, so:

    - an exact-SURT probe prunes to ONE directory (partition pruning in
      the scan, no file listing of the rest), and
    - inside the bucket, parquet min/max stats on the sorted ``surt``
      column skip row groups (predicate pushdown),

    i.e. a lookup against the index of a 100 TB crawl touches a few MB.
    ``repartition(n_buckets, surt_bucket)`` makes one file per directory
    (the writer would otherwise emit one file per input task per bucket).
    ``n_buckets`` is recorded in the same sidecar a bucketed corpus
    carries, so :func:`lookup_cdx_parquet` probes with the index's own
    modulus.
    """
    (
        cdx.withColumn("surt_bucket", bucket_expr(F.col("surt"), n_buckets))
        .repartition(n_buckets, "surt_bucket")
        .sortWithinPartitions("surt", "ts14")
        .write.partitionBy("surt_bucket")
        .mode("overwrite")
        .parquet(out_dir)
    )
    _write_bucket_count(cdx.sparkSession, out_dir, n_buckets)


def lookup_cdx_parquet(spark: SparkSession, path: str, surts: list[str]) -> DataFrame:
    """Point-lookup captures for a small set of SURTs out of the columnar
    index. Recomputes each probe's bucket driver-side with the index's
    recorded bucket count (cheap: len(surts) hashes via one tiny local
    DataFrame) and pushes BOTH predicates — ``surt_bucket IN (...)``
    prunes directories, ``surt IN (...)`` skips row groups within them.
    The plan's PartitionFilters line is the receipt; tests assert only the
    probed buckets' files are read. An index with no sidecar is filtered
    on ``surt`` alone (correct, not pruned)."""
    keys = sorted(set(surts))
    df = spark.read.parquet(path)
    hit = df.filter(F.col("surt").isin(keys))
    n_buckets = _read_bucket_count(spark, path)
    if n_buckets is None:
        return hit
    probe = spark.createDataFrame([(s,) for s in keys], "surt string").select(
        bucket_expr(F.col("surt"), n_buckets).alias("b")
    )
    buckets = sorted({r["b"] for r in probe.collect()})  # one row per SURT
    return hit.filter(F.col("surt_bucket").isin(buckets))


def latest_capture(cdx: DataFrame) -> DataFrame:
    """The newest capture per SURT — the index's "current state of the
    web" view (revisits collapse to the freshest copy). Same bounded
    window shape as :func:`closest_capture`; ties (same ``warc_ts``)
    break to the LAST ``(offset, filename)`` so the pick is total-ordered.
    """
    return first_per(
        cdx, "surt",
        F.col("warc_ts").desc(), F.col("offset").desc(), F.col("filename").desc(),
    )


def recrawl_due(cdx: DataFrame, cutoff_ts: str) -> DataFrame:
    """Refresh scheduling: URLs whose NEWEST capture is older than
    ``cutoff_ts`` — the frontier feed for an incremental crawl (the
    operational loop behind a rolling archive: index the last crawl,
    re-seed what has gone stale). Pure index-side computation — one
    window + one filter over ~100-byte rows; the corpus is never read.
    The result plugs straight into ``CrawlJob.seeds``/the distributed
    seed frontier as a ``(url)`` column."""
    return latest_capture(cdx).filter(
        F.col("warc_ts") < F.lit(cutoff_ts).cast("timestamp")
    )
