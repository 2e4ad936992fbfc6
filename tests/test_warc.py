"""WARC source: byte-exact round-trip through write_warc/parse_warc_bytes,
distributed read via binaryFile + mapInPandas, and e2e crawl parity — a
WARC-backed corpus must crawl identically to the parquet fixture."""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F

from doonop_spark.sources.warc import (
    parse_warc_bytes,
    read_warc,
    warc_corpus,
    write_warc,
)


def test_warc_roundtrip_bytes(tmp_path):
    recs = [
        ("http://a.example/p1", "2024-01-01T00:00:00Z", b"<html><main>one</main></html>"),
        ("http://a.example/p2", "2024-01-01T00:00:01Z", b"\x00\xffbinary<main>\xfe</main>"),
        ("http://b.example/", "2024-01-02T12:34:56Z", b""),
    ]
    for compress in (True, False):
        p = str(tmp_path / (f"t{compress}.warc" + (".gz" if compress else "")))
        write_warc(p, recs, compress=compress)
        got = list(parse_warc_bytes(open(p, "rb").read()))
        assert got == recs  # byte-exact bodies, urls and dates preserved


def test_warc_skips_non_response_records():
    # hand-build a warcinfo record followed by a response record
    info = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nabcd\r\n\r\n"
    )
    body = b"<html>x</html>"
    http = b"HTTP/1.1 200 OK\r\n\r\n" + body
    resp = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://x.example/\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
        + http + b"\r\n\r\n"
    )
    got = list(parse_warc_bytes(info + resp))
    assert got == [("http://x.example/", "2024-01-01T00:00:00Z", body)]
    # gzip multi-member concatenation inflates fully
    gz = gzip.compress(info, mtime=0) + gzip.compress(resp, mtime=0)
    assert list(parse_warc_bytes(gz)) == got


def _response_record(url: str, http: bytes, ts: str = "2024-01-01T00:00:00Z") -> bytes:
    return (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: " + url.encode() + b"\r\n"
        b"WARC-Date: " + ts.encode() + b"\r\n"
        b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
        + http + b"\r\n\r\n"
    )


def test_warc_chunked_transfer_encoding_decoded():
    """Real CC response records carry Transfer-Encoding: chunked — the
    body must come back de-framed, not with hex chunk sizes embedded."""
    payload = b"<html><main>hello chunked world</main></html>"
    chunked = (
        b"1a\r\n" + payload[:26] + b"\r\n"
        + hex(len(payload) - 26)[2:].encode() + b";ext=1\r\n" + payload[26:] + b"\r\n"
        + b"0\r\n\r\n"
    )
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n" + chunked
    )
    got = list(parse_warc_bytes(_response_record("http://c.example/", http)))
    assert got == [("http://c.example/", "2024-01-01T00:00:00Z", payload)]


def test_warc_content_encoding_gzip_and_deflate_decoded():
    import zlib

    payload = b"<html><main>compressed page</main></html>"
    for name, enc in [
        (b"gzip", gzip.compress(payload, mtime=0)),
        (b"deflate", zlib.compress(payload)),
        (b"deflate", zlib.compress(payload)[2:-4]),  # raw-deflate server quirk
    ]:
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Encoding: " + name + b"\r\n\r\n" + enc
        )
        got = list(parse_warc_bytes(_response_record("http://z.example/", http)))
        assert got == [("http://z.example/", "2024-01-01T00:00:00Z", payload)]
    # chunked + gzip stack: de-chunk first, then inflate
    enc = gzip.compress(payload, mtime=0)
    chunked = hex(len(enc))[2:].encode() + b"\r\n" + enc + b"\r\n0\r\n\r\n"
    http = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n"
        b"Content-Encoding: gzip\r\n\r\n" + chunked
    )
    got = list(parse_warc_bytes(_response_record("http://z.example/", http)))
    assert got == [("http://z.example/", "2024-01-01T00:00:00Z", payload)]
    # unknown encodings pass the raw bytes through (no stdlib brotli)
    http = b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\n" + b"\x0bRAWBR"
    got = list(parse_warc_bytes(_response_record("http://z.example/", http)))
    assert got[0][2] == b"\x0bRAWBR"


def test_warc_resync_after_corrupt_record():
    """One corrupt record must not poison the tail of the archive: the
    parser resyncs to the next WARC/ marker and keeps going."""
    good1 = _response_record("http://a.example/1", b"HTTP/1.1 200 OK\r\n\r\nONE")
    bad_noclen = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://bad.example/\r\n\r\n"  # no Content-Length
    )
    garbage = b"\x00\xde\xadjunk bytes not a record\xff" * 3
    good2 = _response_record("http://a.example/2", b"HTTP/1.1 200 OK\r\n\r\nTWO")
    from doonop_spark.sources.warc import iter_warc_stream
    import io as _io

    for archive in (
        good1 + bad_noclen + good2,
        good1 + garbage + b"\r\n" + good2,
        garbage + b"\r\n" + good1 + good2,
    ):
        skipped = [0]
        got = list(iter_warc_stream(_io.BytesIO(archive), skipped=skipped))
        assert [(u, b) for u, _, b in got] == [
            ("http://a.example/1", b"ONE"),
            ("http://a.example/2", b"TWO"),
        ]
        assert skipped[0] > 0  # the junk was counted, not silently eaten

    # truncated tail: parse everything before the truncation point
    trunc = good1 + good2[: len(good2) // 2]
    got = list(iter_warc_stream(_io.BytesIO(trunc)))
    assert [(u, b) for u, _, b in got] == [("http://a.example/1", b"ONE")]


def test_warc_streaming_chunked_batches(spark, tmp_path, monkeypatch):
    """The distributed reader yields multiple Arrow batches per archive
    (O(record) memory, not O(archive)) and the union is byte-identical."""
    from doonop_spark.sources import warc

    recs = [
        (
            f"http://s.example/p{j}",
            f"2024-02-01T00:{j // 60:02d}:{j % 60:02d}Z",
            f"<main>body {j} {'x' * (j % 7)}</main>".encode(),
        )
        for j in range(57)
    ]
    p = str(tmp_path / "big.warc.gz")
    write_warc(p, recs)

    # small batch caps force many yields through one archive
    monkeypatch.setattr(warc, "_BATCH_RECORDS", 10)
    df = read_warc(spark, p)
    got = sorted((r.url, bytes(r.html)) for r in df.collect())
    assert got == sorted((u, b) for u, _, b in recs)
    # tiny byte target takes the bytes-trigger path
    monkeypatch.undo()
    monkeypatch.setattr(warc, "_BATCH_BYTES", 64)
    df2 = read_warc(spark, p)
    assert sorted((r.url, bytes(r.html)) for r in df2.collect()) == got

    # the stream parser itself is chunk-size independent
    from doonop_spark.sources.warc import iter_warc_stream

    with open(p, "rb") as fh:
        tiny = list(iter_warc_stream(fh, chunk_size=13))
    assert [(u, t, b) for u, t, b in tiny] == recs


def test_read_warc_multiple_files(spark, tmp_path):
    for i in range(3):
        write_warc(
            str(tmp_path / f"seg{i}.warc.gz"),
            [
                (
                    f"http://h{i}.example/p{j}",
                    f"2024-01-0{i + 1}T00:00:0{j}Z",
                    f"<main>d{i}.{j}</main>".encode(),
                )
                for j in range(4)
            ],
        )
    df = read_warc(spark, str(tmp_path / "*.warc.gz"))
    rows = df.collect()
    assert len(rows) == 12
    assert {r.url for r in rows} == {
        f"http://h{i}.example/p{j}" for i in range(3) for j in range(4)
    }
    # timestamps parsed to real timestamps
    assert all(r.warc_ts is not None for r in rows)
    # exactly one task per archive file (the file is the parallelism unit)
    assert df.rdd.getNumPartitions() == 3


def test_warc_backed_crawl_matches_parquet(spark, tmp_path):
    """The reference golden (visited=2, collected=2) through a WARC
    archive: warc_corpus must be a drop-in for the parquet fixture."""
    from doonop_spark.plans.job import CrawlJob
    from doonop_spark.plans.loop import run_crawl
    from doonop_spark.sources.corpus import fixture_site_corpus

    fixture = fixture_site_corpus(spark)
    recs = [
        (r.url, "2024-01-01T00:00:00Z", bytes(r.html))
        for r in fixture.orderBy("url").collect()
    ]
    wpath = str(tmp_path / "site.warc.gz")
    write_warc(wpath, recs)
    corpus = warc_corpus(spark, wpath)
    # corpus shape matches input_hint and text is the flagship extraction
    assert [f.name for f in corpus.schema] == ["url", "warc_ts", "html", "text", "lang"]

    job = CrawlJob(seeds=["http://localhost:8000/basic/index.html"], engines=1)
    res_warc = run_crawl(spark, job, corpus)
    res_parq = run_crawl(spark, job, fixture)
    assert res_warc.stats.count_visited == 2 and res_warc.stats.count_collected == 2
    assert sorted((r.url, r.data) for r in res_warc.results.collect()) == sorted(
        (r.url, r.data) for r in res_parq.results.collect()
    )


def test_cli_warc_corpus_golden(spark, tmp_path):
    """The reference CLI golden through a .warc.gz corpus: --corpus
    pointed at an archive sniffs the format and crawls identically."""
    from tests.test_cli import run_cli
    from doonop_spark.sources.corpus import fixture_site_corpus

    recs = [
        (r.url, "2024-01-01T00:00:00Z", bytes(r.html))
        for r in fixture_site_corpus(spark).orderBy("url").collect()
    ]
    wpath = str(tmp_path / "site.warc.gz")
    write_warc(wpath, recs)
    p = run_cli(["--corpus", wpath, "http://localhost:8000/basic/index.html"])
    assert p.returncode == 0
    assert p.stderr.endswith(
        "Statistics: visited 2, collected 2, errors 0, retries 0\n"
    ), p.stderr[-500:]
    import json as _json

    assert [_json.loads(l) for l in p.stdout.splitlines()] == [
        "http://localhost:8000/basic/index.html",
        "http://localhost:8000/basic/about.html",
    ]


def test_cli_wet_out_dedups_revisits(spark, tmp_path):
    """A WARC corpus may hold multiple captures of one URL (revisits);
    --wet-out must emit ONE conversion record per collected value,
    stamped with the latest capture time."""
    from tests.test_cli import run_cli
    from doonop_spark.sources.corpus import fixture_site_corpus
    from doonop_spark.sources.warc import read_wet

    recs = [
        (r.url, "2024-01-01T00:00:00Z", bytes(r.html))
        for r in fixture_site_corpus(spark).orderBy("url").collect()
    ]
    # a later revisit of about.html with identical content
    about = next(r for r in recs if r[0].endswith("about.html"))
    recs.append((about[0], "2024-06-30T12:00:00Z", about[2]))
    wpath = str(tmp_path / "revisits.warc.gz")
    write_warc(wpath, recs)
    wet_dir = str(tmp_path / "wet")
    p = run_cli(
        ["--corpus", wpath, "--wet-out", wet_dir,
         "http://localhost:8000/basic/index.html"]
    )
    assert p.returncode == 0, p.stderr[-500:]
    # the crawl itself dedups revisits (latest capture wins): the page is
    # visited ONCE, not once per capture
    assert p.stderr.endswith(
        "Statistics: visited 2, collected 2, errors 0, retries 0\n"
    ), p.stderr[-500:]
    rows = read_wet(spark, wet_dir + "/*.warc.wet.gz").collect()
    by_url = {}
    for r in rows:
        assert r.url not in by_url, f"duplicate WET record for {r.url}"
        by_url[r.url] = r.warc_ts
    assert set(by_url) == {
        "http://localhost:8000/basic/index.html",
        "http://localhost:8000/basic/about.html",
    }
    # the revisited page carries the LATEST capture time
    assert by_url["http://localhost:8000/basic/about.html"].year == 2024
    assert by_url["http://localhost:8000/basic/about.html"].month == 6


def test_crawl_dedup_captures_latest_wins(spark):
    """dedup_captures: with two captures of one URL in the corpus, the
    fetch uses the LATEST capture's content (every fetch side is covered
    by tests/test_crawl_e2e.py::test_fetch_side_crawl_identical)."""
    from datetime import datetime

    from doonop_spark.plans.job import CrawlJob
    from doonop_spark.plans.loop import run_crawl

    url = "http://r.example/"
    rows = [
        (url, datetime(2024, 1, 1), b"<html><main>old capture</main></html>"),
        (url, datetime(2024, 5, 1), b"<html><main>new capture</main></html>"),
    ]
    corpus = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    res = run_crawl(spark, CrawlJob(seeds=[url], dedup_captures=True), corpus)
    got = res.results.collect()
    assert len(got) == 1 and got[0].data == "new capture", got
    assert res.stats.count_visited == 1 and res.stats.count_collected == 1


def test_wet_roundtrip_distributed(spark, tmp_path):
    """corpus → write_wet (one gzip per partition, shuffle-free) →
    read_wet reproduces (url, warc_ts, text) exactly; multiple part
    files prove the write was distributed."""
    from doonop_spark.sources.corpus import synthetic_corpus
    from doonop_spark.sources.warc import read_wet, write_wet

    corpus = synthetic_corpus(spark, n_hosts=3, n_pages=60).repartition(5)
    out = str(tmp_path / "wet_out")
    n_parts = write_wet(corpus, out)
    assert n_parts >= 2  # distributed: several tasks wrote files

    back = read_wet(spark, out + "/*.warc.wet.gz")
    a = sorted((r.url, r.warc_ts, r.text) for r in corpus.select("url", "warc_ts", "text").collect())
    b = sorted((r.url, r.warc_ts, r.text) for r in back.collect())
    assert a == b


def test_warc_dir_roundtrip_distributed(spark, tmp_path):
    """corpus → write_warc_dir (per-partition archives) → read_warc
    reproduces (url, warc_ts, html) byte-exactly."""
    from doonop_spark.sources.corpus import synthetic_corpus
    from doonop_spark.sources.warc import read_warc, write_warc_dir

    corpus = synthetic_corpus(spark, n_hosts=2, n_pages=40).repartition(4)
    out = str(tmp_path / "warc_out")
    n = write_warc_dir(corpus, out)
    assert n >= 2
    back = read_warc(spark, out + "/*.warc.gz")
    a = sorted((r.url, r.warc_ts, bytes(r.html)) for r in corpus.select("url", "warc_ts", "html").collect())
    b = sorted((r.url, r.warc_ts, bytes(r.html)) for r in back.collect())
    assert a == b


def test_cli_wet_out_sink(spark, tmp_path):
    """--wet-out: collected results also land as WET conversion records
    (url + collected data + the page's capture time), readable back with
    read_wet; stdout golden unchanged."""
    from tests.test_cli import run_cli
    from doonop_spark.sources.corpus import fixture_site_corpus
    from doonop_spark.sources.warc import read_wet

    cpath = str(tmp_path / "fixture.parquet")
    fixture_site_corpus(spark).write.parquet(cpath)
    wet_dir = str(tmp_path / "wet")
    p = run_cli(
        [
            "--corpus", cpath, "--wet-out", wet_dir,
            "http://localhost:8000/basic/index.html",
        ]
    )
    assert p.returncode == 0
    assert p.stderr.endswith(
        "Statistics: visited 2, collected 2, errors 0, retries 0\n"
    ), p.stderr[-500:]
    back = read_wet(spark, wet_dir + "/*.warc.wet.gz")
    rows = {r.url: r.text for r in back.collect()}
    # default check program collects the page URL as the data value
    assert rows == {
        "http://localhost:8000/basic/index.html": "http://localhost:8000/basic/index.html",
        "http://localhost:8000/basic/about.html": "http://localhost:8000/basic/about.html",
    }
    assert all(r.warc_ts is not None for r in back.collect())


def test_warc_sink_interop_headers(spark, tmp_path):
    """Sink fidelity (the headers real WARC consumers expect): every WARC,
    WET and WAT part file opens with a warcinfo record naming itself;
    every capture record carries a urn:uuid WARC-Record-ID; response
    records carry a WARC-Payload-Digest that verifies (sha1/base32 of the
    payload, the CC convention) and WET conversion records a verifying
    WARC-Block-Digest. The readers skip warcinfo by type, so round-trips
    are unchanged."""
    import os
    import re

    from pyspark.sql import functions as F

    from doonop_spark.sources.warc import (
        _http_body,
        _iter_warc_raw,
        _sha1_b32,
        write_warc_dir,
        write_wet,
    )
    from doonop_spark.sources.wat import write_wat

    corpus = spark.range(0, 12).select(
        F.concat(F.lit("http://h.example/p"), F.col("id")).alias("url"),
        F.to_timestamp(F.lit("2024-03-01 00:00:00")).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html>page "), F.col("id")), "utf-8").alias("html"),
        F.concat(F.lit("page "), F.col("id")).alias("text"),
    )
    adir, wdir, tdir = (str(tmp_path / d) for d in ("arcs", "wet", "wat"))
    write_warc_dir(corpus.repartition(3), adir)
    write_wet(corpus.repartition(2), wdir)
    write_wat(corpus.repartition(2), tdir)

    uuid_re = re.compile(rb"^<urn:uuid:[0-9a-f-]{36}>$")
    n_resp = n_conv = n_meta = 0
    for d, want_type, digest_hdr in (
        (adir, "response", "warc-payload-digest"),
        (wdir, "conversion", "warc-block-digest"),
        (tdir, "metadata", None),
    ):
        for name in sorted(os.listdir(d)):
            with gzip.open(os.path.join(d, name), "rb") as fh:
                recs = list(_iter_warc_raw(fh))
            assert recs[0][2]["warc-type"] == "warcinfo"
            assert recs[0][2]["warc-filename"] == name
            assert b"software: doonop-spark" in recs[0][3]
            for _o, _s, hdrs, block in recs[1:]:
                assert hdrs["warc-type"] == want_type
                assert uuid_re.match(hdrs["warc-record-id"].encode())
                if digest_hdr is not None:
                    payload = _http_body(block) if want_type == "response" else block
                    assert hdrs[digest_hdr].encode() == _sha1_b32(payload)
                n_resp += want_type == "response"
                n_conv += want_type == "conversion"
                n_meta += want_type == "metadata"
    assert n_resp == 12 and n_conv == 12 and n_meta == 12

    # reader round-trip unchanged: warcinfo skipped by type
    from doonop_spark.sources.warc import read_warc, read_wet

    back = {r.url: bytes(r.html) for r in read_warc(spark, adir + "/*.warc.gz").collect()}
    assert back == {r.url: bytes(r.html) for r in corpus.collect()}
    wet = {r.url: r.text for r in read_wet(spark, wdir + "/*.wet.gz").collect()}
    assert wet == {r.url: r.text for r in corpus.collect()}


def _sinks():
    """(writer, reader, part suffix) per archive sink."""
    from doonop_spark.sources.warc import read_wet, write_warc_dir, write_wet
    from doonop_spark.sources.wat import read_wat, write_wat

    return {
        "wet": (write_wet, read_wet, ".warc.wet.gz"),
        "warc": (write_warc_dir, read_warc, ".warc.gz"),
        "wat": (write_wat, read_wat, ".warc.wat.gz"),
    }


def _one_row(spark, ts, url=None):
    """One capture in one partition, so its part file is part-00000."""
    return spark.range(0, 1, 1, 1).select(
        (F.lit("http://h.example/p") if url is None else url).alias("url"),
        ts.alias("warc_ts"),
        F.encode(F.lit("<html><a href='/q'>q</a>"), "utf-8").alias("html"),
        F.lit("page").alias("text"),
    )


def _read_secs(spark, reader, out_dir):
    return [r.s for r in reader(spark, out_dir + "/*.gz")
            .select(F.unix_seconds("warc_ts").alias("s")).collect()]


@pytest.mark.parametrize("sink", ["wet", "warc", "wat"])
def test_sink_null_capture_time_writes_epoch(spark, tmp_path, sink):
    """A null capture time is written as the epoch WARC-Date and reads
    back as the epoch (not a crash, not an unparseable 'None')."""
    write, read, _ = _sinks()[sink]
    out = str(tmp_path / sink)
    assert write(_one_row(spark, F.lit(None).cast("timestamp")), out) == 1
    assert _read_secs(spark, read, out) == [0]


@pytest.mark.parametrize("sink", ["wet", "warc", "wat"])
def test_sink_warc_date_is_utc_in_any_session_zone(spark, tmp_path, sink):
    """WARC-Date is the capture instant in UTC whatever the session time
    zone, so a capture written and read in an Asia/Tokyo session reads
    back at the same instant."""
    write, read, _ = _sinks()[sink]
    out = str(tmp_path / sink)
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        write(_one_row(spark, F.timestamp_seconds(F.lit(1704067200))), out)
        assert _read_secs(spark, read, out) == [1704067200]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


@pytest.mark.parametrize("sink", ["wet", "warc", "wat"])
def test_sink_out_dir_uri(spark, tmp_path, monkeypatch, sink):
    """A file:// out_dir writes at the URI's path; a scheme the tasks
    cannot open raises before any job runs (the frame fails if it is
    ever evaluated)."""
    write, _, suffix = _sinks()[sink]
    monkeypatch.chdir(tmp_path)  # a misread URI would land under the cwd
    out = tmp_path / "out"
    assert write(_one_row(spark, F.current_timestamp()), out.as_uri()) == 1
    assert os.listdir(out) == ["part-00000" + suffix]
    poisoned = _one_row(
        spark, F.current_timestamp(),
        url=F.when(F.col("id") >= 0, F.raise_error(F.lit("a job ran"))).cast("string"),
    )
    with pytest.raises(NotImplementedError, match="hdfs://"):
        write(poisoned, "hdfs://nn/out")
    assert os.listdir(tmp_path) == ["out"]


@pytest.mark.parametrize("reader", ["read_warc", "read_wet", "read_wat", "cdx_index"])
def test_archive_readers_reject_foreign_scheme(spark, monkeypatch, reader):
    """An archive a task cannot open raises at the call, before any job
    runs, not as a worker failure when the frame is first evaluated."""
    from doonop_spark.sources import cdx, warc, wat

    read = {
        "read_warc": warc.read_warc,
        "read_wet": warc.read_wet,
        "read_wat": wat.read_wat,
        "cdx_index": cdx.cdx_index,
    }[reader]
    monkeypatch.setattr(
        warc, "_glob_paths", lambda _spark, _glob: ["hdfs://nn/crawl/seg-0.warc.gz"]
    )
    with pytest.raises(NotImplementedError, match="hdfs://"):
        read(spark, "hdfs://nn/crawl/*.warc.gz")
