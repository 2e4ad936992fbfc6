"""Charset sniffing + transcoding (functions/encoding.py): WHATWG
priority (BOM > Content-Type header > meta tag > none), real legacy
decodes, and the corpus transcode pass-through contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from doonop_spark.functions.encoding import (
    charset_of,
    decode_html,
    normalize_charset_label,
    transcode_corpus,
)


def _frame(spark, payloads: list[bytes], cts: list[str | None] | None = None):
    rows = [
        (i, p, (cts[i] if cts else None)) for i, p in enumerate(payloads)
    ]
    return spark.createDataFrame(rows, "id int, html binary, ct string")


def test_bom_detection(spark):
    df = _frame(
        spark,
        [
            b"\xef\xbb\xbf<html>utf8 bom</html>",
            b"\xff\xfe<\x00h\x00t\x00m\x00l\x00>\x00",  # utf-16-le
            b"\xfe\xff\x00<\x00h\x00t\x00m\x00l\x00>",  # utf-16-be
            b"<html>plain</html>",
        ],
    )
    got = [r[0] for r in df.orderBy("id").select(charset_of("html")).collect()]
    assert got == ["utf-8", "utf-16-le", "utf-16-be", None]


def test_meta_tag_detection(spark):
    df = _frame(
        spark,
        [
            b'<html><head><meta charset="Windows-1252"></head></html>',
            b"<html><head><meta charset=iso-8859-1></head>",
            b'<meta http-equiv="Content-Type" content="text/html; charset=Shift_JIS">',
            b"<html>no declaration</html>",
        ],
    )
    got = [r[0] for r in df.orderBy("id").select(charset_of("html")).collect()]
    assert got == ["windows-1252", "iso-8859-1", "shift_jis", None]


def test_priority_bom_over_header_over_meta(spark):
    meta = b'<meta charset="iso-8859-1">x'
    df = _frame(
        spark,
        [b"\xef\xbb\xbf" + meta, meta, meta],
        cts=[
            "text/html; charset=koi8-r",
            "text/html; charset=koi8-r",
            "text/html",
        ],
    )
    got = [
        r[0]
        for r in df.orderBy("id").select(charset_of("html", "ct")).collect()
    ]
    # BOM beats header beats meta; absent header param falls to meta
    assert got == ["utf-8", "koi8-r", "iso-8859-1"]


def test_label_normalization():
    assert normalize_charset_label("ISO-8859-1") == "cp1252"  # WHATWG fold
    assert normalize_charset_label("gb2312") == "gb18030"
    assert normalize_charset_label("UTF8") == "utf-8"
    assert normalize_charset_label("no-such-charset") == "utf-8"
    assert normalize_charset_label(None) == "utf-8"


@pytest.mark.parametrize(
    "codec,text",
    [
        ("windows-1252", "café – “quotes”"),
        ("iso-8859-15", "héllo €uro"),
        ("shift_jis", "日本語のページ"),
        ("utf-16-le", "utf16 ページ"),
    ],
)
def test_decode_real_legacy_bytes(spark, codec, text):
    declared = {"iso-8859-15": "iso-8859-15"}.get(codec, codec)
    if codec == "utf-16-le":
        raw = "﻿".encode(codec) + text.encode(codec)  # BOM carries it
        html = raw
    else:
        html = f'<meta charset="{declared}">{text}'.encode(codec)
        text = f'<meta charset="{declared}">{text}'
    df = spark.createDataFrame([(html,)], "html binary")
    out = df.select(
        decode_html("html", charset_of("html")).alias("t")
    ).collect()[0]["t"]
    assert out == text


def test_decode_windows1252_mislabeled_latin1(spark):
    # the WHATWG fold: bytes 0x93/0x94 (curly quotes) are UNDEFINED in
    # real ISO-8859-1 but every browser decodes the label as cp1252
    html = b'<meta charset="iso-8859-1">\x93hi\x94'
    df = spark.createDataFrame([(html,)], "html binary")
    out = df.select(
        decode_html("html", charset_of("html")).alias("t")
    ).collect()[0]["t"]
    assert out.endswith("“hi”")


def test_transcode_corpus_passthrough_and_recode(spark):
    plain = b"<html><main>ascii stays</main></html>"
    utf8d = '<meta charset="utf-8"><main>déjà</main>'.encode("utf-8")
    legacy = '<meta charset="windows-1252"><main>déjà – ok</main>'.encode(
        "windows-1252"
    )
    corpus = spark.createDataFrame(
        [(1, plain), (2, utf8d), (3, legacy)], "id int, html binary"
    )
    got = {
        r["id"]: bytes(r["html"])
        for r in transcode_corpus(corpus).collect()
    }
    assert got[1] == plain  # undeclared → untouched bytes
    assert got[2] == utf8d  # declared utf-8 → untouched bytes
    # legacy → exact utf-8 re-encoding
    assert got[3] == '<meta charset="windows-1252"><main>déjà – ok</main>'.encode(
        "utf-8"
    )


def test_transcoded_page_extracts_clean_text(spark):
    """End-to-end: a windows-1252 page through transcode + the crawl's
    fused extract kernel yields the true unicode text, not mojibake, and
    its link absolutized against the page URL."""
    from doonop_spark.functions.extract import extract_page_udf

    legacy = (
        '<html><head><meta charset="windows-1252"></head>'
        '<body><main>naïve café – done</main><a href="../menu">menu</a></body></html>'
    ).encode("windows-1252")
    corpus = spark.createDataFrame(
        [("http://legacy.example/a/b", legacy)], "url string, html binary"
    )

    def page(df):
        return df.select(extract_page_udf("url", "html").alias("p")).collect()[0]["p"]

    raw = page(corpus)
    assert "café" not in raw.text  # mojibake without transcoding
    fixed = page(transcode_corpus(corpus))
    assert fixed.text == "naïve café – done"
    assert fixed.links == ["http://legacy.example/menu"]


def test_charset_detection_is_jvm_only(spark):
    """The detection expression must not introduce a Python stage."""
    df = _frame(spark, [b"<meta charset=utf-8>x"]).select(
        charset_of("html", "ct").alias("cs")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_warc_corpus_transcode_legacy_page(spark, tmp_path):
    """A windows-1252 WARC capture comes out of warc_corpus(transcode=True)
    with true unicode text (and untouched under the default)."""
    from doonop_spark.sources.warc import warc_corpus, write_warc

    legacy = (
        '<html><head><meta charset="windows-1252"></head>'
        "<body><main>smart “quotes” – naïve</main></body></html>"
    ).encode("windows-1252")
    p = str(tmp_path / "legacy.warc.gz")
    write_warc(p, [("http://l.example/", "2024-01-01T00:00:00Z", legacy)])

    raw = warc_corpus(spark, p).select("text").collect()[0]["text"]
    assert "“quotes”" not in raw  # mojibake without the sniff
    fixed = (
        warc_corpus(spark, p, transcode=True).select("text").collect()[0]["text"]
    )
    assert fixed == "smart “quotes” – naïve"
