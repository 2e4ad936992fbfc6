"""CrawlJob config parsers — goldens ported from the reference
(``src/cfg.rs:352-397`` proxy, ``:228-239`` retry policy, ``:216-226``
browser, ``:162-183`` check-file sniffing)."""

from __future__ import annotations

import pytest

from doonop_spark.plans.job import (
    CrawlJob,
    RetryPolicy,
    job_from_argv,
    open_code_file,
    parse_browser,
    parse_proxy,
    parse_retry_policy,
)


def test_parse_proxy_reference_goldens():
    # src/cfg.rs:352-397, verbatim cases
    assert parse_proxy("auto-detect") == {"kind": "auto-detect"}
    assert parse_proxy("direct") == {"kind": "direct"}
    assert parse_proxy("system") == {"kind": "system"}
    assert parse_proxy("auto-config;address=https://example.net") == {
        "kind": "auto-config",
        "address": "https://example.net",
    }
    assert parse_proxy("auto-config;address=https://example.net;") == {
        "kind": "auto-config",
        "address": "https://example.net",
    }
    assert parse_proxy("http;address=https://example.net") == {
        "kind": "http",
        "address": "https://example.net",
    }
    assert parse_proxy("sock;address=https://example.net;version=5") == {
        "kind": "sock",
        "address": "https://example.net",
        "version": 5,
        "username": None,
        "password": None,
    }
    assert parse_proxy(
        "sock;address=https://example.net;version=5;password=123;username=qwe"
    ) == {
        "kind": "sock",
        "address": "https://example.net",
        "version": 5,
        "username": "qwe",
        "password": "123",
    }
    assert parse_proxy("sock;address=https://example.net") is None  # no version
    assert parse_proxy("http;") is None
    assert parse_proxy("http") is None


def test_parse_retry_policy():
    for s in ("no", "No", "off", "Off"):
        assert parse_retry_policy(s) == RetryPolicy.NO
    for s in ("first", "First"):
        assert parse_retry_policy(s) == RetryPolicy.FIRST
    for s in ("last", "Last"):
        assert parse_retry_policy(s) == RetryPolicy.LAST
    with pytest.raises(ValueError):
        parse_retry_policy("FIRST")


def test_parse_browser():
    assert parse_browser("geckodriver") == "firefox"
    assert parse_browser("chromedriver") == "chrome"
    with pytest.raises(ValueError):
        parse_browser("safari")


def test_open_code_file_sniffing(tmp_path):
    js = tmp_path / "check.js"
    js.write_text("return 1;")
    side = tmp_path / "prog.side"
    side.write_text("{}")
    noext = tmp_path / "prog"
    noext.write_text("x")
    assert open_code_file(None) == ("return window.location.href", "js")
    assert open_code_file(str(js)) == ("return 1;", "js")
    assert open_code_file(str(side)) == ("{}", "side")
    # explicit format beats extension (src/cfg.rs:170-175)
    assert open_code_file(str(js), "side")[1] == "side"
    assert open_code_file(str(noext), "js")[1] == "js"
    with pytest.raises(ValueError):
        open_code_file(str(noext))


def test_job_from_argv_full():
    job = job_from_argv(
        [
            "http://a.com",
            "http://b.com",
            "-j", "4",
            "--limit", "10",
            "-i", r"\.jpg$",
            "-f", "domain=a.com",
            "-f", "domain=b.com",
            "--retry-policy", "first",
            "--retry-count", "5",
            "--use-robots-txt",
            "--proxy", "direct",
        ]
    )
    assert job.engines == 4 and job.limit == 10
    assert job.retry_policy == RetryPolicy.FIRST and job.retry_count == 5
    assert job.use_robots
    # squash: one RegexFilter + ONE union DomainFilter
    from doonop_spark.operators.filters import DomainFilter, RegexFilter

    assert [type(f) for f in job.filters] == [RegexFilter, DomainFilter]
    assert job.filters[1].domains == ("a.com", "b.com")
    assert job.check == "url"  # default program ≡ identity on url


def test_job_from_argv_bad_filter():
    with pytest.raises(ValueError):
        job_from_argv(["http://a.com", "-f", "bogus"])
    with pytest.raises(ValueError):
        job_from_argv(["http://a.com", "--proxy", "sock;address=x"])


def test_job_from_argv_reference_spellings():
    """A command line copied verbatim from the reference's clap schema
    (src/cfg.rs:25-98) parses identically: underscore flags
    (--retry_threshold, --use_robots_txt, --robot), its short options, and
    the --webdriver-url no-op."""
    job = job_from_argv(
        [
            "http://a.com",
            "-j", "2",
            "-l", "7",
            "-b", "chrome",
            "-p", "5000",
            "-w", "http://localhost:9999",
            "--retry_threshold", "60000",
            "--retry-count", "2",
            "--use_robots_txt",
            "--robot", "MyBot",
        ]
    )
    assert job.engines == 2 and job.limit == 7
    assert job.use_robots and job.robot == "MyBot"
    assert job.retry_count == 2
    # 60000 ms / 1000 / wave_seconds(30) = 2 logical waves
    assert job.retry_threshold == pytest.approx(2.0)


def test_job_from_argv_defaults_match_reference():
    """Default config parity (src/cfg.rs): retry_policy=first,
    retry_threshold=10000ms, retry_count=3, robots off."""
    job = job_from_argv(["http://a.com"])
    assert job.retry_policy == RetryPolicy.FIRST
    assert job.retry_count == 3
    assert job.retry_threshold == pytest.approx(10.0 / 30.0)
    assert not job.use_robots
    assert job.robot == "DoonopRobot"


_EDGE_KNOBS = [
    ("engines", 0, "engines must be >= 1"),
    ("engines", -2, "engines must be >= 1"),
    ("bloom_fold_every", 0, "bloom_fold_every must be >= 1"),
    ("bloom_fold_every", -1, "bloom_fold_every must be >= 1"),
    ("bloom_probe_mode", "auto", "broadcast probe was removed"),
    ("bloom_probe_mode", "broadcast", "broadcast probe was removed"),
    ("retry_policy", "bogus", "retry_policy must be one of"),
    ("retry_clock", "Wave", "retry_clock must be one of"),
    ("url_key", "SURT", "url_key must be one of"),
    ("check", "js", "check must be one of"),
    ("check", "side", "check='side' needs a side_program"),
    ("limit", -1, "limit must be >= 0"),
    ("retry_count", -1, "retry_count must be >= 0"),
    ("retry_threshold", -0.5, "retry_threshold must be >= 0"),
    ("per_host_budget", -1, "per_host_budget must be >= 0"),
    ("bloom_partitions", -1, "bloom_partitions must be >= 0"),
    ("seen_compact_every", -1, "seen_compact_every must be >= 0"),
    ("corpus_cache_max_bytes", -1, "corpus_cache_max_bytes must be >= 0"),
    ("max_iterations", -1, "max_iterations must be >= 0"),
    ("wave_seconds", 0, "wave_seconds must be > 0"),
    ("wave_seconds", -30.0, "wave_seconds must be > 0"),
    ("bloom_expected_per_partition", 0, "bloom_expected_per_partition must be >= 1"),
]

# the flag that sets each knob, for the values a command line can carry
_KNOB_FLAGS = {
    "engines": "-j",
    "limit": "-l",
    "retry_count": "--retry-count",
    "retry_clock": "--retry-clock",
    "url_key": "--url-key",
    "bloom_partitions": "--bloom-partitions",
    "seen_compact_every": "--seen-compact-every",
}


@pytest.mark.parametrize(
    "knob, value, match", _EDGE_KNOBS, ids=[f"{k}={v}" for k, v, _ in _EDGE_KNOBS]
)
def test_crawl_job_rejects_edge_knob_values(knob, value, match):
    """Edge-case knob values raise at construction instead of being
    reinterpreted: ``engines=0`` used to schedule nothing and return an
    empty crawl, ``bloom_fold_every=0`` used to fold every wave,
    ``retry_clock="Wave"`` ran the wall clock, ``retry_policy="bogus"``
    ran RetryLast, ``wave_seconds=0`` made every Crawl-delay budget 1 and
    a negative ``bloom_partitions`` turned the bloom off."""
    with pytest.raises(ValueError, match=match):
        CrawlJob(seeds=["http://a.com"], **{knob: value})
    if knob in _KNOB_FLAGS:  # the command line reaches the same check
        with pytest.raises(ValueError, match=match):
            job_from_argv([_KNOB_FLAGS[knob], str(value), "http://a.com"])
    if knob == "retry_threshold":  # --retry_threshold is in milliseconds
        with pytest.raises(ValueError, match=match):
            job_from_argv(["--retry_threshold", "-500", "http://a.com"])


def test_crawl_job_accepts_documented_edge_values():
    """Zero is legal wherever it means "off" or is a real setting, None
    wherever it lifts a bound; a ``dataclasses.replace`` runs the checks
    again."""
    import dataclasses

    job = CrawlJob(
        engines=None,
        limit=0,
        retry_policy="last",
        retry_count=0,
        retry_clock="wall",
        url_key="surt",
        per_host_budget=0,
        bloom_partitions=0,
        bloom_expected_per_partition=1,
        bloom_fold_every=1,
        seen_compact_every=0,
        corpus_cache_max_bytes=0,
        max_iterations=0,
        check="side",
        side_program="{}",
    )
    assert job.retry_policy is RetryPolicy.LAST
    assert dataclasses.replace(job, dedup_captures=True).dedup_captures
    with pytest.raises(ValueError, match="engines must be >= 1"):
        dataclasses.replace(job, engines=0)
