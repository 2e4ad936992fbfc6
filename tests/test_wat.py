"""WAT source/sink: the metadata envelope round-trips losslessly, the
links it carries are exactly the fused extract kernel's (absolutized)
links, and the WAT-derived edge list feeds the link-graph operators
identically to extracting from HTML directly."""

from __future__ import annotations

import gzip
import io
import json

from pyspark.sql import functions as F

from doonop_spark.sources.corpus import synthetic_corpus
from doonop_spark.sources.wat import read_wat, read_wat_links, write_wat


def _corpus(spark):
    return synthetic_corpus(spark, n_hosts=4, n_pages=60, partitions=4)


def test_wat_roundtrip_links_exact(spark, tmp_path):
    corpus = _corpus(spark)
    out = str(tmp_path / "wat")
    n_parts = write_wat(corpus, out)
    assert n_parts >= 1

    # ground truth: the fused kernel's own links per url
    from doonop_spark.functions.extract import extract_page_udf

    truth = {
        r["url"]: r["links"]
        for r in corpus.select(
            "url", extract_page_udf("url", "html")["links"].alias("links")
        ).collect()
    }
    got = {
        r["url"]: r["links"]
        for r in read_wat(spark, out + "/*.warc.wat.gz").collect()
    }
    assert got == truth  # every capture, link order preserved


def test_wat_metadata_fields(spark, tmp_path):
    corpus = _corpus(spark)
    out = str(tmp_path / "wat")
    write_wat(corpus, out)
    wat = read_wat(spark, out + "/*.warc.wat.gz")
    rows = wat.collect()
    assert all(r["status"] == 200 for r in rows)
    # content_length == byte length of the original html
    lens = {r["url"]: r["content_length"] for r in rows}
    for r in corpus.select("url", F.length("html").alias("n")).collect():
        assert lens[r["url"]] == r["n"]
    # warc_ts round-trips (second precision — the WARC-Date grain)
    ts = {r["url"]: r["warc_ts"] for r in rows}
    for r in corpus.select("url", "warc_ts").collect():
        assert ts[r["url"]] == r["warc_ts"]


def test_wat_envelope_is_common_crawl_shaped(spark, tmp_path):
    """The raw record body is the documented CC envelope subset —
    parseable by any WAT consumer, not just our reader."""
    corpus = _corpus(spark).limit(1)
    out = str(tmp_path / "wat")
    write_wat(corpus, out)
    import glob as _glob

    from doonop_spark.sources.warc import _iter_warc_raw

    raw = gzip.decompress(open(_glob.glob(out + "/*.warc.wat.gz")[0], "rb").read())
    # the part opens with warcinfo; check the first metadata record
    recs = list(_iter_warc_raw(io.BytesIO(raw)))
    assert recs[0][2]["warc-type"] == "warcinfo"
    raw = raw[recs[1][0]:]
    assert raw.startswith(b"WARC/1.0\r\nWARC-Type: metadata\r\n")
    body = raw.split(b"\r\n\r\n", 1)[1].rsplit(b"\r\n\r\n", 1)[0]
    env = json.loads(body)["Envelope"]
    assert env["WARC-Header-Metadata"]["WARC-Type"] == "response"
    links = env["Payload-Metadata"]["HTTP-Response-Metadata"]["HTML-Metadata"][
        "Links"
    ]
    assert all(l["path"] == "A@/href" and "url" in l for l in links)


def test_wat_edge_list_matches_html_extraction(spark, tmp_path):
    """read_wat_links == the graph module's own HTML-derived edges."""
    corpus = _corpus(spark)
    out = str(tmp_path / "wat")
    write_wat(corpus, out)

    from doonop_spark.functions.extract import extract_page_udf

    direct = (
        corpus.select(
            F.col("url").alias("src"),
            F.explode(extract_page_udf("url", "html")["links"]).alias("dst"),
        )
        .collect()
    )
    via_wat = read_wat_links(spark, out + "/*.warc.wat.gz").collect()
    assert sorted(map(tuple, via_wat)) == sorted(map(tuple, direct))


def test_wat_malformed_envelope_yields_nulls(spark, tmp_path):
    """A corrupt JSON body must not drop the capture — metadata columns
    go null, framing-level fields survive."""
    hdr_body = b"{not json"
    rec = (
        b"WARC/1.0\r\nWARC-Type: metadata\r\n"
        b"WARC-Target-URI: http://x.example/\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"Content-Type: application/json\r\n"
        b"Content-Length: " + str(len(hdr_body)).encode() + b"\r\n\r\n"
        + hdr_body + b"\r\n\r\n"
    )
    p = tmp_path / "bad.warc.wat.gz"
    p.write_bytes(gzip.compress(rec, mtime=0))
    rows = read_wat(spark, str(p)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["url"] == "http://x.example/"
    assert r["status"] is None and r["links"] is None
