"""Link/text extraction goldens (reference ``src/backend.rs:89-123`` and
the fixture site ``tests/www/basic``)."""

from __future__ import annotations

from doonop_spark.functions.extract import (
    extract_links_py,
    extract_text_py,
)

FIXTURE_INDEX = """<!DOCTYPE html>
<html lang="en">
<head>
    <meta charset="UTF-8">
    <title>Index</title>
</head>
<body>
    <a href="./about.html">About</a>
</body>
</html>"""

FIXTURE_ABOUT = """<!DOCTYPE html>
<html lang="en">
<head><title>Index</title></head>
<body>
    <p>Nothing is here</p>
</body>
</html>"""


def test_fixture_site_links():
    # mirrors tests/www/basic/index.html:10 → one link; about.html → none
    assert extract_links_py(FIXTURE_INDEX) == ["./about.html"]
    assert extract_links_py(FIXTURE_ABOUT) == []


def test_links_skip_missing_href_document_order():
    html = (
        '<a href="/one">1</a><a name="anchor">no href</a>'
        "<a href='/two'>2</a><a href=/three>3</a>"
        '<A HREF="/FOUR">case</A>'
    )
    # anchors without href skipped silently (src/backend.rs:104)
    assert extract_links_py(html) == ["/one", "/two", "/three", "/FOUR"]


def test_links_entity_unescape_and_bytes():
    html = b'<a href="/p?a=1&amp;b=2">x</a>'
    assert extract_links_py(html) == ["/p?a=1&b=2"]
    assert extract_links_py(None) is None


def test_text_main_byte_identical():
    body = 'line1\n  line2 with <kept "spacing">\té'
    import html as H

    page = f"<html><body><main>{H.escape(body)}</main></body></html>"
    assert extract_text_py(page) == body  # byte-identical round-trip


def test_text_fallback_strips_and_collapses():
    page = (
        "<html><head><style>p{color:red}</style>"
        "<script>var x=1;</script></head>"
        "<body><p>Nothing   is\n here</p></body></html>"
    )
    assert extract_text_py(page) == "Nothing is here"


def test_udfs_on_spark(spark):
    """The crawl's fused kernel on Spark: links absolutized against the
    page URL, text by the same rule as the pure-Python kernel."""
    from doonop_spark.functions.extract import extract_page_udf

    df = spark.createDataFrame(
        [
            ("http://basic.example/docs/index.html", FIXTURE_INDEX.encode()),
            ("http://basic.example/docs/about.html", FIXTURE_ABOUT.encode()),
        ],
        "url string, html binary",
    )
    rows = {
        r.url: (r.page.links, r.page.text)
        for r in df.select("url", extract_page_udf("url", "html").alias("page")).collect()
    }
    assert rows["http://basic.example/docs/index.html"] == (
        ["http://basic.example/docs/about.html"],
        "About",
    )
    assert rows["http://basic.example/docs/about.html"] == ([], "Nothing is here")
