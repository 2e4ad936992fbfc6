"""WARC source — read Common-Crawl-style ``.warc.gz`` archives into the
engine's corpus table shape (SURVEY.md §2.1 extension; the north star's
frontier is "Common-Crawl-style", and WARC is that corpus's native
format).

Format (ISO 28500, the subset Common Crawl emits): a WARC file is a
sequence of records, each ``WARC/1.0\\r\\n`` + header lines +
``\\r\\n\\r\\n`` + exactly ``Content-Length`` bytes of block +
``\\r\\n\\r\\n``. In ``.warc.gz`` every record is its own gzip member
(members concatenate). A ``response`` record's block is an HTTP/1.1
message — status line, headers, blank line, body; the page bytes are the
body. Real Common Crawl response blocks frequently carry
``Transfer-Encoding: chunked`` and/or ``Content-Encoding: gzip|deflate``
— both are decoded here so ``html`` is always the page bytes, never wire
framing. Other content-encodings (``br``, ``zstd`` — not in stdlib) pass
through untouched.

Spark shape: the archive FILE is the parallelism unit — exactly how
Common Crawl ships (10^5 × ~1 GB segments for a crawl), so a 100 TB read
is a 10^5-task scan with per-task linear streaming and no shuffle. The
driver lists paths (Hadoop glob, same listing the DataSource API does),
one task opens one archive and **streams** it: gzip members inflate
incrementally through :class:`gzip.GzipFile` (bounded internal buffer),
records parse out of a rolling window, and rows leave the task as
chunked Arrow batches every ``_BATCH_RECORDS`` records or
``_BATCH_BYTES`` payload bytes, whichever comes first. Peak task memory
is O(record), not O(archive) — a 1 GB gzipped / 5 GB inflated segment
streams through a 3 GB executor — and the ``binaryFile`` 2 GB whole-file
row cap does not apply because file bytes never enter a row. Parsing is
stdlib-only (``gzip``/``zlib``) and runs on Arrow batches.

Every reader — ``read_warc``, ``read_wet``, ``wat.read_wat`` and
``cdx.cdx_index`` — is one :func:`_scan_archives` call: one listing, one
path rule (a local path or ``file:`` URI; any other scheme raises on the
driver before a job runs), one task per archive, one batching rule and
one ``WARC-Date`` parse.

A corrupt record mid-archive does not poison the tail: the parser
resyncs to the next ``\\r\\nWARC/`` marker and counts the skipped bytes
(logged per file), and a malformed ``WARC-Date`` reads as a null
``warc_ts``.

Sinks (``write_wet``, ``write_warc_dir`` and ``wat.write_wat``) are one
``select`` each over one writer, :func:`_write_parts`: one part file per
partition under a local path or ``file:`` URI (other schemes raise
before any job runs), a ``warcinfo`` lead record, then one gzip member
per record framed by :func:`_warc_record`. Every capture record carries a
deterministic ``WARC-Record-ID`` and a ``WARC-Date`` from
:func:`warc_date`: the instant in UTC whatever the session time zone, the
epoch for a null time.

``write_warc`` is the deterministic fixture generator (exact inverse of
the reader for the emitted subset), so round-trips are byte-asserted in
tests without any external archive.
"""

from __future__ import annotations

import gzip
import io
import logging
import zlib
from collections.abc import Callable, Iterator
from typing import BinaryIO

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

__all__ = [
    "write_warc",
    "parse_warc_bytes",
    "iter_warc_stream",
    "read_warc",
    "warc_corpus",
    "write_wet",
    "read_wet",
    "write_warc_dir",
    "warc_date",
]

_CRLF = b"\r\n"
_EPOCH = "1970-01-01T00:00:00Z"
# one Arrow batch leaves a scan task per this many rows or payload bytes
_BATCH_RECORDS = 10_000
_BATCH_BYTES = 64 << 20
_log = logging.getLogger(__name__)


def _record_id(*parts: str) -> bytes:
    """Deterministic ``WARC-Record-ID`` (RFC 4122 name-based UUID over
    the record's identity) — deterministic so fixture archives are
    byte-stable across runs; real WARC writers use random UUIDs, and the
    reader accepts either."""
    import uuid

    return b"<urn:uuid:" + str(
        uuid.uuid5(uuid.NAMESPACE_URL, " ".join(parts))
    ).encode() + b">"


def _sha1_b32(data: bytes) -> bytes:
    """``sha1:<base32>`` digest label — the Common Crawl / warcio payload
    digest convention (20 sha-1 bytes → exactly 32 base32 chars, no
    padding)."""
    import base64
    import hashlib

    return b"sha1:" + base64.b32encode(hashlib.sha1(data).digest())


def _warc_record(fields: list[tuple[bytes, bytes]], block: bytes) -> bytes:
    """The one WARC record framing every writer uses: ``WARC/1.0``, the
    ``(name, value)`` header fields in order, ``Content-Length``, a blank
    line, the block, and the closing CRLFCRLF."""
    head = b"".join(k + b": " + v + _CRLF for k, v in fields)
    return (
        b"WARC/1.0\r\n" + head
        + b"Content-Length: " + str(len(block)).encode() + _CRLF + _CRLF
        + block + _CRLF + _CRLF
    )


def _capture_fields(rtype: str, url: str, ts: str) -> list[tuple[bytes, bytes]]:
    """The leading fields of every capture record: type, target URI, date
    and the deterministic ``WARC-Record-ID`` over the three."""
    return [
        (b"WARC-Type", rtype.encode()),
        (b"WARC-Target-URI", url.encode()),
        (b"WARC-Date", ts.encode()),
        (b"WARC-Record-ID", _record_id(rtype, url, ts)),
    ]


def _response_record_bytes(url: str, ts: str, body: bytes) -> bytes:
    """One ``response`` record: stored HTTP/1.1 200 message wrapping
    ``body``, with the interop headers real consumers (warcio, CDX
    indexers) expect — ``WARC-Record-ID`` and ``WARC-Payload-Digest``
    (sha1/base32 of the payload, the CC convention)."""
    http = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html\r\n"
        b"Content-Length: " + str(len(body)).encode() + _CRLF + _CRLF + body
    )
    return _warc_record(
        _capture_fields("response", url, ts) + [
            (b"WARC-Payload-Digest", _sha1_b32(body)),
            (b"Content-Type", b"application/http;msgtype=response"),
        ],
        http,
    )


def _conversion_record_bytes(url: str, ts: str, body: bytes) -> bytes:
    """One ``conversion`` (WET extracted-text) record; the block IS the
    payload, so the digest header is ``WARC-Block-Digest`` (the field WET
    files carry)."""
    return _warc_record(
        _capture_fields("conversion", url, ts) + [
            (b"WARC-Block-Digest", _sha1_b32(body)),
            (b"Content-Type", b"text/plain"),
        ],
        body,
    )


def _metadata_record_bytes(url: str, ts: str, body: bytes) -> bytes:
    """One ``metadata`` (WAT) record; the block is the JSON envelope."""
    return _warc_record(
        _capture_fields("metadata", url, ts)
        + [(b"Content-Type", b"application/json")],
        body,
    )


def _warcinfo_record_bytes(filename: str) -> bytes:
    """The ``warcinfo`` record real archives open with (one per file,
    naming the file and the writer). ``WARC-Date`` is pinned to the epoch
    so sink output is deterministic — a deliberate deviation from live
    writers, which stamp wall-clock; readers (ours included) treat
    warcinfo as metadata and skip it by type."""
    return _warc_record(
        [
            (b"WARC-Type", b"warcinfo"),
            (b"WARC-Date", _EPOCH.encode()),
            (b"WARC-Filename", filename.encode()),
            (b"WARC-Record-ID", _record_id("warcinfo", filename)),
            (b"Content-Type", b"application/warc-fields"),
        ],
        b"software: doonop-spark\r\nformat: WARC File Format 1.0\r\n",
    )


def write_warc(
    path: str,
    records: list[tuple[str, str, bytes]],
    compress: bool = True,
) -> None:
    """Write ``records`` = [(url, iso_ts, html_bytes), ...] as a WARC file
    of ``response`` records (one gzip member per record when
    ``compress``, the ``.warc.gz`` convention). Streams record-by-record
    to the file handle — O(record) memory."""
    with open(path, "wb") as f:
        for url, ts, body in records:
            rec = _response_record_bytes(url, ts, body)
            f.write(gzip.compress(rec, mtime=0) if compress else rec)


def _dechunk(body: bytes) -> bytes:
    """Decode HTTP/1.1 chunked transfer framing (RFC 9112 §7.1):
    ``hex-size[;ext]CRLF data CRLF`` repeated, terminated by a 0-size
    chunk (trailers ignored). Raises ValueError on malformed framing so
    the caller can fall back to the raw bytes."""
    out = []
    pos = 0
    while True:
        nl = body.find(_CRLF, pos)
        if nl < 0:
            raise ValueError("chunked body: missing size line")
        size = int(body[pos:nl].split(b";")[0].strip(), 16)  # ValueError on junk
        if size == 0:
            break
        start = nl + 2
        if start + size > len(body):
            raise ValueError("chunked body: truncated chunk")
        out.append(body[start : start + size])
        pos = start + size + 2  # skip the chunk-data CRLF
    return b"".join(out)


def _http_body(block: bytes) -> bytes:
    """HTTP message block → page bytes: body after the first blank line,
    de-chunked when ``Transfer-Encoding: chunked`` and inflated when
    ``Content-Encoding: gzip|deflate`` (the encodings Common Crawl
    actually stores). Unknown encodings and malformed framing degrade to
    the raw bytes — never drop the record."""
    sep = block.find(_CRLF + _CRLF)
    if sep < 0:
        return block
    head, body = block[:sep], block[sep + 4 :]
    te = ce = b""
    for line in head.split(_CRLF)[1:]:
        k, _, v = line.partition(b":")
        k = k.strip().lower()
        if k == b"transfer-encoding":
            te = v.strip().lower()
        elif k == b"content-encoding":
            ce = v.strip().lower()
    if b"chunked" in te:
        try:
            body = _dechunk(body)
        except ValueError:
            pass
    if ce in (b"gzip", b"x-gzip"):
        try:
            body = gzip.decompress(body)
        except (OSError, EOFError):
            pass
    elif ce == b"deflate":
        try:
            body = zlib.decompress(body)
        except zlib.error:
            try:  # some servers send raw deflate without the zlib wrapper
                body = zlib.decompress(body, -zlib.MAX_WBITS)
            except zlib.error:
                pass
    return body


def _http_status_mime(block: bytes) -> tuple[int | None, str | None]:
    """HTTP message block → (status code, media type) from the status
    line and ``Content-Type`` header — the two response fields a CDX
    index records. ``None`` where absent/unparseable (e.g. a block that
    is not an HTTP message)."""
    sep = block.find(_CRLF + _CRLF)
    head = block if sep < 0 else block[:sep]
    lines = head.split(_CRLF)
    status: int | None = None
    if lines and lines[0][:5] == b"HTTP/":
        parts = lines[0].split()
        if len(parts) >= 2 and parts[1].isdigit():
            status = int(parts[1])
    mime: str | None = None
    for line in lines[1:]:
        k, _, v = line.partition(b":")
        if k.strip().lower() == b"content-type":
            mime = v.split(b";")[0].strip().decode("ascii", "replace").lower()
            break
    return status, mime


def _payload(headers: dict[str, str], block: bytes) -> bytes:
    """A record's page bytes: the HTTP body of a ``response`` block
    (:func:`_http_body`), any other block (WET text, WAT JSON) as it
    is."""
    return _http_body(block) if headers.get("warc-type") == "response" else block


def _is_gzip(fh: BinaryIO) -> bool:
    """True when ``fh`` holds gzip data (``.warc.gz``); leaves ``fh`` at
    its start."""
    magic = fh.read(2)
    fh.seek(0)
    return magic == b"\x1f\x8b"


def _iter_warc_raw(
    stream: BinaryIO,
    chunk_size: int = 1 << 20,
    skipped: list[int] | None = None,
) -> Iterator[tuple[int, int, dict[str, str], bytes]]:
    """Core WARC framing loop over an (already-inflated) byte stream:
    yields ``(offset, span, headers, block)`` per record, where
    ``offset`` is the record's byte position in the stream and ``span``
    its full consumed length (header + block + closing CRLFCRLF) — the
    coordinates a CDX index records for a plain ``.warc``. O(record)
    memory: only a rolling buffer of the current record is held.
    Malformed records (bad header, missing/invalid Content-Length)
    resync to the next ``\\r\\nWARC/`` marker instead of terminating —
    skipped byte counts accumulate into ``skipped[0]`` when a
    one-element list is passed."""
    if skipped is None:
        skipped = [0]
    buf = b""
    base = 0  # absolute stream offset of buf[0]
    eof = False

    def drop(n: int) -> None:
        nonlocal buf, base
        base += n
        buf = buf[n:]

    def fill() -> bool:
        nonlocal buf, eof
        if eof:
            return False
        try:
            chunk = stream.read(chunk_size)
        except (OSError, EOFError):  # corrupt gzip tail: parse what we have
            chunk = b""
        if not chunk:
            eof = True
            return False
        buf += chunk
        return True

    while True:
        while len(buf) < 5 and fill():
            pass
        if len(buf) < 5:
            skipped[0] += len(buf)
            return
        if not buf.startswith(b"WARC/"):
            # resync: scan forward for the next record marker
            idx = buf.find(_CRLF + b"WARC/")
            if idx >= 0:
                skipped[0] += idx + 2
                drop(idx + 2)
                continue
            # keep a small tail so a marker spanning chunk boundaries survives
            if len(buf) > 8:
                skipped[0] += len(buf) - 8
                drop(len(buf) - 8)
            if not fill():
                skipped[0] += len(buf)
                return
            continue
        end_hdr = buf.find(_CRLF + _CRLF)
        while end_hdr < 0:
            if not fill():
                skipped[0] += len(buf)
                return  # truncated header at EOF
            end_hdr = buf.find(_CRLF + _CRLF)
        headers: dict[str, str] = {}
        for line in buf[:end_hdr].split(_CRLF)[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("ascii", "replace")] = v.strip().decode(
                "utf-8", "replace"
            )
        try:
            clen = int(headers["content-length"])
            if clen < 0:
                raise ValueError
        except (KeyError, ValueError):
            skipped[0] += 5
            drop(5)  # drop this marker, resync to the next record
            continue
        need = end_hdr + 4 + clen + 4  # header + block + closing CRLFCRLF
        while len(buf) < need and fill():
            pass
        if len(buf) < end_hdr + 4 + clen:
            skipped[0] += len(buf)
            return  # truncated final record
        block = buf[end_hdr + 4 : end_hdr + 4 + clen]
        offset = base
        span = min(need, len(buf))
        drop(span)
        yield offset, span, headers, block


def iter_warc_stream(
    fh: BinaryIO,
    types: tuple[str, ...] = ("response",),
    chunk_size: int = 1 << 20,
    skipped: list[int] | None = None,
) -> Iterator[tuple[str, str, bytes]]:
    """Stream (url, warc_date, body_bytes) per record whose WARC-Type is
    in ``types`` from a seekable binary stream holding a ``.warc`` or
    multi-member ``.warc.gz`` archive.

    O(record) memory: gzip members inflate incrementally via
    :class:`gzip.GzipFile` and parsing (:func:`_iter_warc_raw`) keeps
    only a rolling buffer of the current record, resyncing past
    malformed records (skipped byte counts accumulate into
    ``skipped[0]`` when a one-element list is passed).

    ``response`` blocks are HTTP messages (body unwrapped, chunked
    transfer framing and gzip/deflate content-encoding decoded);
    ``conversion`` blocks (WET extracted text) ARE the body.
    """
    stream: BinaryIO = gzip.GzipFile(fileobj=fh) if _is_gzip(fh) else fh  # type: ignore[assignment]
    for _offset, _span, headers, block in _iter_warc_raw(stream, chunk_size, skipped):
        url = headers.get("warc-target-uri")
        if headers.get("warc-type") in types and url:
            yield url, headers.get("warc-date", ""), _payload(headers, block)


def parse_warc_bytes(
    data: bytes, types: tuple[str, ...] = ("response",)
) -> Iterator[tuple[str, str, bytes]]:
    """In-memory convenience wrapper over :func:`iter_warc_stream` —
    usable driver-side on small archives and in tests. The distributed
    readers stream from file handles instead (O(record) memory)."""
    return iter_warc_stream(io.BytesIO(data), types=types)


def _glob_paths(spark: SparkSession, path_glob: str) -> list[str]:
    """Expand a path/glob through the Hadoop FileSystem API (the same
    listing the DataSource file index does — works on any configured FS).
    Directories list one level of plain files. Driver memory is
    O(#files) — the standard Spark file-listing shape."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path_glob)  # type: ignore[union-attr]
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())  # type: ignore[union-attr]
    statuses = fs.globStatus(jpath)
    out: list[str] = []
    for st in statuses or []:
        if st.isDirectory():
            for sub in fs.listStatus(st.getPath()):
                if sub.isFile():
                    out.append(sub.getPath().toString())
        elif st.isFile():
            out.append(st.getPath().toString())
    return sorted(out)


def _local_path(path: str) -> str:
    """Plain path or ``file:`` URI (Hadoop listing output) → OS path for
    worker-side ``open``. Non-local schemes raise: the archive readers
    and sinks stream through the task's filesystem view (local disk or a
    DFS mount)."""
    from urllib.parse import unquote, urlparse

    if ":" not in path.split("/", 1)[0] and "://" not in path:
        return path
    u = urlparse(path)
    if u.scheme in ("", "file"):
        return unquote(u.path)
    raise NotImplementedError(
        f"archives stream through a mounted filesystem; got scheme {u.scheme}://"
    )


def _scan_archives(
    spark: SparkSession,
    path_glob: str,
    rows: Callable[[str, list[int]], Iterator[tuple[tuple, int]]],
    schema: str,
) -> DataFrame:
    """The one archive scan: list ``path_glob``, check every path with
    :func:`_local_path` on the driver (a foreign scheme raises before any
    job runs), then run one task per archive over the ``(row, payload
    bytes)`` pairs ``rows(path, skipped)`` yields for it. Rows leave the
    task in Arrow batches of ``_BATCH_RECORDS`` rows or ``_BATCH_BYTES``
    payload bytes, whichever comes first, so task memory stays O(record);
    bytes the parser skips to resync (``skipped[0]``) are logged per
    archive. ``schema`` is the DDL of the rows, with the ``WARC-Date``
    text as ``__ts``; the result adds ``warc_ts`` parsed from it (null
    where malformed)."""
    paths = _glob_paths(spark, path_glob)
    if not paths:
        raise FileNotFoundError(f"no archive files match {path_glob}")
    for p in paths:
        _local_path(p)
    cols = DataType.fromDDL(schema).names
    max_rows, max_bytes = _BATCH_RECORDS, _BATCH_BYTES

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p in pdf["path"]:
                skipped = [0]
                out: list[tuple] = []
                nbytes = 0
                for row, size in rows(str(p), skipped):
                    out.append(row)
                    nbytes += size
                    if len(out) >= max_rows or nbytes >= max_bytes:
                        yield pd.DataFrame(out, columns=cols)
                        out, nbytes = [], 0
                if out:
                    yield pd.DataFrame(out, columns=cols)
                if skipped[0]:
                    _log.warning(
                        "warc parse: skipped %d unparseable bytes in %s",
                        skipped[0], p,
                    )

    # exactly one archive per task: parallelize with one slice per path
    listed = spark.createDataFrame(
        spark.sparkContext.parallelize([(p,) for p in paths], len(paths)),
        "path string",
    )
    return listed.mapInPandas(scan, schema=schema).withColumn(
        "warc_ts", F.try_to_timestamp(F.col("__ts"))
    )


def _read_records(
    spark: SparkSession,
    path_glob: str,
    types: tuple[str, ...],
    body_col: str,
    as_text: bool,
) -> DataFrame:
    """Archives → ``(url, warc_ts, body_col)`` for the records whose
    WARC-Type is in ``types``: the page bytes, or UTF-8 text when
    ``as_text``."""

    def rows(path: str, skipped: list[int]) -> Iterator[tuple[tuple, int]]:
        with open(_local_path(path), "rb") as fh:
            for url, ts, body in iter_warc_stream(fh, types, skipped=skipped):
                val = body.decode("utf-8", "replace") if as_text else body
                yield (url, ts, val), len(body)

    kind = "string" if as_text else "binary"
    schema = f"url string, __ts string, {body_col} {kind}"
    return _scan_archives(spark, path_glob, rows, schema).select(
        "url", "warc_ts", body_col
    )


def read_warc(spark: SparkSession, path_glob: str) -> DataFrame:
    """``.warc`` / ``.warc.gz`` files → rows ``(url, warc_ts, html)``.
    One task per archive file, streaming member-by-member inflation,
    chunked Arrow batches — task memory O(record), no whole-file row
    (so no ``binaryFile`` 2 GB cap), no shuffle. ``path_glob`` is a local
    path or ``file:`` URI (glob or directory); any other scheme raises
    ``NotImplementedError`` before a job runs."""
    return _read_records(spark, path_glob, ("response",), "html", False)


def warc_corpus(
    spark: SparkSession, path_glob: str, transcode: bool = False
) -> DataFrame:
    """WARC archives → the engine's full corpus shape (BASELINE.json
    input_hint): ``text`` via the flagship byte-exact extraction kernel,
    ``lang`` via the n-gram language heuristic — both Arrow-batched, so a
    WARC-backed crawl (`run_crawl(spark, job, warc_corpus(...))`) is
    plan-identical to a parquet-backed one.

    ``transcode=True`` runs the WHATWG charset sniff
    (``functions/encoding.py``) and re-encodes legacy-charset pages to
    UTF-8 before extraction — real Common Crawl segments are several
    percent windows-125x/shift_jis/gb*; without this those pages extract
    as mojibake. Off by default: the sniff itself is JVM-only but the
    recode pass adds an Arrow stage, and fixture corpora are pure UTF-8
    (the byte-exact round-trip oracles require untouched bytes)."""
    from doonop_spark.functions.extract import extract_page_udf
    from doonop_spark.functions.text import lang_id_udf

    pages = read_warc(spark, path_glob)
    if transcode:
        from doonop_spark.functions.encoding import transcode_corpus

        pages = transcode_corpus(pages)
    return pages.withColumn("__page", extract_page_udf("url", "html")).select(
        "url",
        "warc_ts",
        "html",
        F.col("__page.text").alias("text"),
        lang_id_udf(F.col("__page.text")).alias("lang"),
    )


def warc_date(ts: Column) -> Column:
    """``WARC-Date`` text for a timestamp column: the instant in UTC as
    ``yyyy-MM-ddTHH:mm:ssZ`` whatever the session time zone, and the
    epoch for a null time. A JVM expression, so every sink formats the
    date the same way before any row reaches Python."""
    utc = F.convert_timezone(None, F.lit("UTC"), ts)
    return F.coalesce(
        F.date_format(utc, "yyyy-MM-dd'T'HH:mm:ss'Z'"), F.lit(_EPOCH)
    )


def _write_parts(
    rows: DataFrame,
    out_dir: str,
    suffix: str,
    record: Callable[[str, str, bytes], bytes],
) -> int:
    """The one archive writer: ``rows`` of ``(__u, __t, __b)`` — url,
    WARC-Date text (:func:`warc_date`) and block bytes — become one
    ``part-NNNNN{suffix}`` per non-empty partition under ``out_dir``: a
    warcinfo member, then one gzip member per ``record(url, ts, block)``.
    Each task streams straight to its own file (local disk here, a DFS
    mount on a cluster): shuffle-free, O(record) task memory. ``out_dir``
    is a local path or ``file:`` URI, resolved on the driver before any
    job runs (a Python task has no JVM gateway to open a Hadoop stream).
    Returns the number of part files written."""
    import os

    base = _local_path(out_dir)
    os.makedirs(base, exist_ok=True)

    def dump(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        name = f"part-{pid:05d}{suffix}"
        f = None
        n = 0
        try:
            for pdf in batches:
                for url, ts, block in zip(pdf["__u"], pdf["__t"], pdf["__b"]):
                    if f is None:  # lazy: empty partitions write no file
                        f = open(os.path.join(base, name), "wb")
                        f.write(gzip.compress(_warcinfo_record_bytes(name), mtime=0))
                    rec = record(str(url), ts, b"" if block is None else bytes(block))
                    f.write(gzip.compress(rec, mtime=0))
                    n += 1
        finally:
            if f is not None:
                f.close()
        yield pd.DataFrame({"part": [pid], "n_records": [n]})

    parts = rows.mapInPandas(dump, schema="part int, n_records long").collect()
    # bounded collect: one row per partition
    return sum(1 for r in parts if r.n_records > 0)


def write_wet(
    corpus: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> int:
    """Distributed WET sink: ``(url, warc_ts, text)`` → one
    ``part-NNNNN.warc.wet.gz`` of ``conversion`` records per partition
    (Common Crawl's extracted-text interchange format — the standard
    hand-off from a crawl to a training-data pipeline), written by
    :func:`_write_parts`. Returns the number of part files written."""
    rows = corpus.select(
        F.col(url_col).alias("__u"),
        warc_date(F.col(ts_col)).alias("__t"),
        F.encode(F.col(text_col), "UTF-8").alias("__b"),
    )
    return _write_parts(rows, out_dir, ".warc.wet.gz", _conversion_record_bytes)


def read_wet(spark: SparkSession, path_glob: str) -> DataFrame:
    """WET archives → ``(url, warc_ts, text)`` (conversion records; the
    same scan and path rule as :func:`read_warc`)."""
    return _read_records(spark, path_glob, ("conversion",), "text", True)


def write_warc_dir(
    corpus: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    html_col: str = "html",
) -> int:
    """Distributed WARC sink: one ``part-NNNNN.warc.gz`` of ``response``
    records per partition, written by :func:`_write_parts`. Inverse of
    :func:`read_warc` — used to emit re-shardable archives and to build
    archive fixtures at scale. Returns the number of part files written."""
    rows = corpus.select(
        F.col(url_col).alias("__u"),
        warc_date(F.col(ts_col)).alias("__t"),
        F.col(html_col).alias("__b"),
    )
    return _write_parts(rows, out_dir, ".warc.gz", _response_record_bytes)
