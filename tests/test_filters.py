"""Filter goldens ported from the reference (``src/filters.rs:31-83``,
squash from ``src/cfg.rs:142-155``, seed clean from ``src/cfg.rs:338-342``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from doonop_spark.operators.filters import (
    DomainFilter,
    RegexFilter,
    apply_link_filters,
    clean_seeds,
    ignored_expr,
    is_ignored,
    parse_filter_spec,
    squash_filters,
)


def test_regex_filter_reference_golden():
    # src/filters.rs:34-64
    f = RegexFilter(r".jpg$")
    assert not is_ignored(f, "http://google.com/")
    assert not is_ignored(f, "http://google.com/image.png")
    assert is_ignored(f, "http://google.com/some/thing/second.jpg")

    f = RegexFilter(r"^http://google.com")
    assert is_ignored(f, "http://google.com/")
    assert is_ignored(f, "http://google.com/image.png")
    assert not is_ignored(f, "http://microsoft.com/")


def test_domain_filter_reference_golden():
    # src/filters.rs:66-82 — www stripped on BOTH sides
    f = DomainFilter(("google.com", "www.bing.com"))
    assert not is_ignored(f, "http://google.com/")
    assert not is_ignored(f, "http://google.com/image.png")
    assert not is_ignored(f, "http://bing.com/image.png?asd=13")
    assert is_ignored(f, "http://yahoo.com/")
    # no-domain URLs are ignored by a domain filter (unwrap_or(true))
    assert is_ignored(f, "http://127.0.0.1/x")
    assert is_ignored(f, "mailto:a@google.com")


def test_squash():
    # src/cfg.rs:142-155 — N domain filters → ONE union allow-list
    fs = squash_filters(
        [
            DomainFilter(("a.com",)),
            RegexFilter("x"),
            DomainFilter(("b.com",)),
        ]
    )
    assert fs == [RegexFilter("x"), DomainFilter(("a.com", "b.com"))]
    url = "http://b.com/"
    assert not any(is_ignored(f, url) for f in [fs[1]])


def test_parse_filter_spec():
    assert parse_filter_spec("domain=example.com") == DomainFilter(("example.com",))
    assert parse_filter_spec("nope") is None
    assert parse_filter_spec("other=x") is None


def test_clean_seeds():
    # sort + dedup + filter (src/cfg.rs:338-342)
    seeds = [
        "http://b.com/x",
        "http://a.com",
        "http://b.com/x",
        "http://spam.com/",
    ]
    out = clean_seeds(seeds, [DomainFilter(("a.com", "b.com"))])
    assert out == ["http://a.com/", "http://b.com/x"]
    with pytest.raises(ValueError):
        clean_seeds(["no-scheme.com"], [])


def test_filters_spark_parity(spark):
    """JVM predicates must agree with the pure-Python kernel."""
    urls = [
        "http://google.com/",
        "http://google.com/image.png",
        "http://google.com/some/thing/second.jpg",
        "http://bing.com/image.png?asd=13",
        "http://www.bing.com/",
        "http://yahoo.com/",
        "http://127.0.0.1/x",
    ]
    filters = [
        RegexFilter(r".jpg$"),
        DomainFilter(("google.com", "www.bing.com")),
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = sorted(r.url for r in apply_link_filters(df, filters).collect())
    expected = sorted(
        u for u in urls if not any(is_ignored(f, u) for f in filters)
    )
    assert got == expected
    assert "http://yahoo.com/" not in got and "http://127.0.0.1/x" not in got


def test_empty_domain_filter_rejects_all(spark):
    df = spark.createDataFrame([("http://a.com/",)], "url string")
    assert df.filter(~ignored_expr(DomainFilter(()), F.col("url"))).count() == 0
