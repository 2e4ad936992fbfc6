"""CDX index over WARC archives (sources/cdx.py): member-exact offsets,
random access byte-equality, CDXJ interchange. The offset/length fields
cannot be SQL-oracled (they depend on the runtime partition layout), so
these tests ARE their correctness pin: every capture the index reports
must be retrievable by (filename, offset, length) alone and byte-equal
to the original page."""

from __future__ import annotations

import gzip
import io
import os

import pytest
from pyspark.sql import functions as F

from doonop_spark.sources.cdx import (
    cdx_index,
    fetch_cdx,
    iter_gzip_members,
    read_cdxj,
    read_warc_record,
    write_cdxj,
)
from doonop_spark.sources.warc import write_warc, write_warc_dir


def _fixture_corpus(spark, n=40):
    """Deterministic little corpus with awkward bytes in the html."""
    return spark.range(0, n).select(
        F.concat(
            F.lit("http://h"), (F.col("id") % 7).cast("string"),
            F.lit(".example/p"), F.col("id").cast("string"),
        ).alias("url"),
        (
            F.to_timestamp(F.lit("2024-03-01 00:00:00"))
            + F.make_dt_interval(secs=F.col("id"))
        ).alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><body>\r\n\r\nWARC/1.0 decoy "),
                F.col("id").cast("string"),
                F.lit(" &<>"),
            ),
            "utf-8",
        ).alias("html"),
    )


def test_cdx_index_random_access_byte_exact(spark, tmp_path):
    """Every indexed capture is retrievable by its (filename, offset,
    length) coordinates alone, byte-equal to the page that was archived
    — including pages whose body embeds a WARC record marker."""
    corpus = _fixture_corpus(spark)
    out = str(tmp_path / "arcs")
    write_warc_dir(corpus.repartition(3), out)
    cdx = cdx_index(spark, out + "/*.warc.gz")
    rows = cdx.collect()
    want = {r.url: bytes(r.html) for r in corpus.collect()}
    assert {r.url for r in rows} == set(want)
    for r in rows:
        url, ts, body = read_warc_record(r.filename, r.offset, r.length)
        assert url == r.url
        assert body == want[r.url]
        assert ts.startswith("2024-03-01")
    # content-determined fields parsed from the stored HTTP response
    assert all(r.status == 200 and r.mime == "text/html" for r in rows)
    # digest is SHA-256 of the page bytes — cross-checked against the JVM
    bad = (
        cdx.join(
            corpus.select("url", F.sha2(F.col("html"), 256).alias("want")), "url"
        )
        .filter(F.col("digest") != F.col("want"))
        .count()
    )
    assert bad == 0


def test_cdx_plain_warc_record_spans(spark, tmp_path):
    """Plain (uncompressed) .warc: offsets/lengths are raw record spans;
    seeking to them without any index-side state reproduces each page."""
    recs = [
        (f"http://p.example/{i}", "2024-02-02T00:00:00Z", f"body {i} &<>".encode())
        for i in range(7)
    ]
    path = str(tmp_path / "plain.warc")
    write_warc(path, recs, compress=False)
    cdx = cdx_index(spark, path).orderBy("url").collect()
    assert len(cdx) == 7
    for r in cdx:
        url, _ts, body = read_warc_record(r.filename, r.offset, r.length)
        assert url == r.url
        assert body == dict((u, b) for u, _t, b in recs)[r.url]
    # spans tile the file: sorted offsets are strictly increasing and
    # each record starts where its predecessor ended
    spans = sorted((r.offset, r.length) for r in cdx)
    for (o1, l1), (o2, _l2) in zip(spans, spans[1:]):
        assert o1 + l1 == o2


def test_iter_gzip_members_boundaries(tmp_path):
    """Member offsets/lengths from the counting inflater match the real
    compressed byte layout, and a corrupt member stops cleanly after the
    good prefix."""
    parts = [gzip.compress(f"member {i}".encode(), mtime=0) for i in range(5)]
    blob = b"".join(parts)
    got = list(iter_gzip_members(io.BytesIO(blob), chunk_size=7))
    offs = [0]
    for p in parts[:-1]:
        offs.append(offs[-1] + len(p))
    assert [(o, l) for o, l, _ in got] == [
        (o, len(p)) for o, p in zip(offs, parts)
    ]
    assert [d for _, _, d in got] == [f"member {i}".encode() for i in range(5)]
    # corrupt the 4th member's deflate stream: members 0-2 still index
    corrupt = bytearray(blob)
    corrupt[offs[3] + 12] ^= 0xFF
    got2 = list(iter_gzip_members(io.BytesIO(bytes(corrupt))))
    assert [d for _, _, d in got2][:3] == [f"member {i}".encode() for i in range(3)]
    assert len(got2) <= 4


def test_cdx_multi_record_member(spark, tmp_path):
    """Non-CC layout: one gzip member holding a request record and three
    captures, two of them of one URL. Every capture indexes with the
    member's shared coordinates, and random access at those coordinates
    returns each capture's own page, by (url, ts14), through
    read_warc_record and fetch_cdx."""
    recs = [
        ("http://m.example/a", "2024-01-01T00:00:00Z", b"page a"),
        ("http://m.example/b", "2024-01-01T00:00:01Z", b"page b"),
        ("http://m.example/a", "2024-01-01T00:00:02Z", b"page a again"),
    ]

    def _rec(url, ts, body, kind="response"):
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: "
            + str(len(body)).encode() + b"\r\n\r\n" + body
        )
        return (
            b"WARC/1.0\r\nWARC-Type: " + kind.encode()
            + b"\r\nWARC-Target-URI: " + url.encode()
            + b"\r\nWARC-Date: " + ts.encode()
            + b"\r\nContent-Type: application/http;msgtype=" + kind.encode() + b"\r\n"
            + b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
            + http + b"\r\n\r\n"
        )

    # the request shares the second capture's URI and date; it is not a
    # capture, so random access must skip it
    records = [_rec(*recs[0]), _rec(*recs[1], kind="request"), *(_rec(*r) for r in recs[1:])]
    path = str(tmp_path / "multi.warc.gz")
    with open(path, "wb") as f:
        f.write(gzip.compress(b"".join(records), mtime=0))
    cdx = cdx_index(spark, path)
    rows = cdx.orderBy("url", "ts14").collect()
    assert [(r.url, r.ts14) for r in rows] == [
        ("http://m.example/a", "20240101000000"),
        ("http://m.example/a", "20240101000002"),
        ("http://m.example/b", "20240101000001"),
    ]
    assert len({(r.offset, r.length) for r in rows}) == 1
    want = {(u, ts): body for u, ts, body in recs}
    for r in rows:
        url, ts, body = read_warc_record(path, r.offset, r.length, r.url, r.ts14)
        assert (url, body) == (r.url, want[(url, ts)])
    got = sorted(
        (r.url, r.s, bytes(r.html))
        for r in fetch_cdx(cdx)
        .select("url", F.unix_seconds("warc_ts").alias("s"), "html")
        .collect()
    )
    assert got == sorted((u, 1704067200 + i, b) for i, (u, _t, b) in enumerate(recs))
    # no index row given: the member's first record, as before
    url, _ts, body = read_warc_record(path, rows[0].offset, rows[0].length)
    assert (url, body) == ("http://m.example/a", b"page a")


def test_fetch_cdx_distributed(spark, tmp_path):
    """An indexed subset → pages via fetch_cdx, without an archive scan:
    results byte-equal the corpus for exactly the selected URLs."""
    corpus = _fixture_corpus(spark, n=60)
    out = str(tmp_path / "arcs")
    write_warc_dir(corpus.repartition(4), out)
    cdx = cdx_index(spark, out + "/*.warc.gz")
    picked = cdx.filter(F.col("url").rlike("/p[0-9]$"))
    got = {r.url: bytes(r.html) for r in fetch_cdx(picked).collect()}
    want = {
        r.url: bytes(r.html)
        for r in corpus.filter(F.col("url").rlike("/p[0-9]$")).collect()
    }
    assert got == want and len(got) == 10


def test_cdxj_roundtrip_and_global_sort(spark, tmp_path):
    """CDXJ shards: read_cdxj(write_cdxj(x)) == x field-for-field, and
    concatenating the shard files in name order yields one globally
    SURT-ordered stream (range partition + in-partition sort)."""
    import glob

    corpus = _fixture_corpus(spark, n=50)
    arcs = str(tmp_path / "arcs")
    write_warc_dir(corpus.repartition(3), arcs)
    cdx = cdx_index(spark, arcs + "/*.warc.gz")
    jdir = str(tmp_path / "cdxj")
    write_cdxj(cdx, jdir, n_shards=4)
    back = read_cdxj(spark, jdir)
    a = sorted(map(tuple, cdx.drop("warc_ts").collect()))
    b = sorted(map(tuple, back.drop("warc_ts").collect()))
    assert a == b and len(a) == 50
    lines: list[str] = []
    for part in sorted(glob.glob(jdir + "/part-*")):
        opener = gzip.open if part.endswith(".gz") else open
        with opener(part, "rt") as f:
            lines += [ln.rstrip("\n") for ln in f if ln.strip()]
    keys = [tuple(ln.split(" ", 2)[:2]) for ln in lines]
    assert keys == sorted(keys)
    assert len(lines) == 50


def test_cdx_missing_glob_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        cdx_index(spark, str(tmp_path / "nope" / "*.warc.gz"))


def _revisit_corpus(spark, n=30):
    """Two captures per URL: the original at t0+id sec and a revisit at
    t0+3·id sec (different body), so closest-capture picks differ by id."""
    base = _fixture_corpus(spark, n)
    revisit = base.select(
        "url",
        (F.col("warc_ts") + F.make_dt_interval(secs=F.lit(2) * (
            F.unix_timestamp("warc_ts")
            - F.unix_timestamp(F.to_timestamp(F.lit("2024-03-01 00:00:00")))
        ))).alias("warc_ts"),
        F.encode(F.concat(F.lit("rev "), F.decode("html", "utf-8")), "utf-8").alias(
            "html"
        ),
    )
    return base.unionByName(revisit)


def test_closest_capture_picks_nearest_tie_earlier(spark, tmp_path):
    from doonop_spark.sources.cdx import closest_capture

    corpus = _revisit_corpus(spark, n=30)
    out = str(tmp_path / "arcs")
    write_warc_dir(corpus.repartition(4), out)
    cdx = cdx_index(spark, out + "/*.warc.gz")
    # target = t0 + 30 s: original capture is at id sec, revisit at 3·id —
    # revisit nearer for id < 15, original nearer for id > 15, tie at
    # id 15 (both 15 s away) → earlier wins; id 0 is a same-ts tie.
    got = closest_capture(cdx, "2024-03-01 00:00:30")
    picked = {r.url: r.ts14 for r in got.collect()}
    assert got.count() == 30  # exactly one row per SURT
    for i in range(30):
        url = f"http://h{i % 7}.example/p{i}"
        if 0 < i < 15:
            want = 3 * i
        elif i == 15:
            want = 15  # equidistant → earlier capture
        else:
            want = i
        assert picked[url].endswith(f"{want // 60:02d}{want % 60:02d}"), (i, picked[url])


def test_cdx_parquet_lookup_prunes_partitions(spark, tmp_path):
    """The columnar index: round-trips all captures, and a point lookup
    reads ONLY the probed buckets' files (partition pruning receipt via
    inputFiles), returning exactly the probed SURTs' captures."""
    from doonop_spark.sources.cdx import lookup_cdx_parquet, write_cdx_parquet

    corpus = _fixture_corpus(spark, n=60)
    arcs = str(tmp_path / "arcs")
    write_warc_dir(corpus.repartition(3), arcs)
    cdx = cdx_index(spark, arcs + "/*.warc.gz")
    idx = str(tmp_path / "ccindex")
    write_cdx_parquet(cdx, idx, n_buckets=16)

    back = spark.read.parquet(idx)
    assert back.count() == 60
    assert sorted(back.select("url").toPandas()["url"]) == sorted(
        corpus.select("url").toPandas()["url"]
    )

    # the index carries its bucket count: a lookup that is not told it
    # still finds every capture of the 16-bucket layout
    all_surts = [r.surt for r in cdx.select("surt").collect()]
    assert lookup_cdx_parquet(spark, idx, all_surts).count() == 60

    surts = [r.surt for r in cdx.filter(F.col("url").rlike("/p(3|41)$")).collect()]
    hit = lookup_cdx_parquet(spark, idx, surts)
    rows = hit.collect()
    assert {r.surt for r in rows} == set(surts)
    # pruning receipt: the bucket IN-list reaches the scan as a partition
    # filter (directory pruning), the surt IN-list as a pushed data filter
    # (row-group skipping) — same receipt style as the bucketed-fetch test
    plan = hit._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "surt_bucket" in pf and " IN " in pf.upper()
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "In(surt" in pushed
    # fetched pages through the pruned lookup are byte-identical
    pages = {r.url: bytes(r.html) for r in fetch_cdx(hit).collect()}
    want = {
        r.url: bytes(r.html)
        for r in corpus.filter(F.col("url").rlike("/p(3|41)$")).collect()
    }
    assert pages == want

    # an index with no sidecar is scanned on surt alone: same captures
    os.remove(os.path.join(idx, "_doonop_buckets.json"))
    assert {r.surt for r in lookup_cdx_parquet(spark, idx, surts).collect()} == set(surts)


def test_malformed_warc_date_reads_as_null(spark, tmp_path):
    """One record with an unparseable WARC-Date does not fail the scan:
    its warc_ts is null through read_warc, cdx_index, fetch_cdx and a
    CDXJ round-trip, and the well-formed record keeps its time."""
    from doonop_spark.sources.warc import read_warc

    path = str(tmp_path / "a.warc.gz")
    write_warc(path, [
        ("http://h.example/ok", "2024-01-01T00:00:00Z", b"<html>ok"),
        ("http://h.example/bad", "not-a-date", b"<html>bad"),
    ])

    def secs(df):
        return {r.url: r.s for r in df.select("url", F.unix_seconds("warc_ts").alias("s")).collect()}

    want = {"http://h.example/ok": 1704067200, "http://h.example/bad": None}
    assert secs(read_warc(spark, path)) == want
    cdx = cdx_index(spark, path)
    assert secs(cdx) == want
    assert secs(fetch_cdx(cdx)) == want
    write_cdxj(cdx, str(tmp_path / "cdxj"), n_shards=1)
    assert secs(read_cdxj(spark, str(tmp_path / "cdxj"))) == want


def test_latest_capture_and_recrawl_due(spark, tmp_path):
    """latest_capture collapses revisits to the freshest copy; recrawl_due
    returns exactly the URLs whose freshest capture predates the cutoff."""
    from doonop_spark.sources.cdx import latest_capture, recrawl_due

    corpus = _revisit_corpus(spark, n=30)  # captures at id and 3·id sec
    out = str(tmp_path / "arcs")
    write_warc_dir(corpus.repartition(4), out)
    cdx = cdx_index(spark, out + "/*.warc.gz")

    latest = {r.url: r.ts14 for r in latest_capture(cdx).collect()}
    assert len(latest) == 30
    for i in range(30):
        url = f"http://h{i % 7}.example/p{i}"
        want = 3 * i
        assert latest[url].endswith(f"{want // 60:02d}{want % 60:02d}"), (i, latest[url])

    # cutoff t0+45 s: latest capture 3·id < 45 ⇔ id ≤ 14
    due = {r.url for r in recrawl_due(cdx, "2024-03-01 00:00:45").collect()}
    assert due == {f"http://h{i % 7}.example/p{i}" for i in range(15)}
