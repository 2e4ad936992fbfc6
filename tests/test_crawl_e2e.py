"""End-to-end crawl loop tests — mirrors the reference's three test levels
(SURVEY.md §5): mock-backend loop tests (``src/lib.rs:101-245``) and the
fixture-site integration goldens (``tests/crawling.rs:4-53``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from doonop_spark.plans.job import CrawlJob, RetryPolicy
from doonop_spark.plans.loop import run_crawl
from doonop_spark.sources.corpus import fixture_site_corpus, synthetic_corpus
from doonop_spark.sources.tables import MemoryTableIO


def mock_corpus(spark, pages: dict[str, list[str]], data: dict[str, str] | None = None):
    """Corpus analog of the reference MockBackend (src/lib.rs:209-226):
    each url yields (links, data)."""
    rows = [
        (
            url,
            "".join(f'<a href="{l}">x</a>' for l in links)
            + f"<main>{(data or {}).get(url, url)}</main>",
        )
        for url, links in pages.items()
    ]
    df = spark.createDataFrame(rows, "url string, body string")
    return df.select(
        "url",
        F.to_timestamp(F.lit("2024-01-01")).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), F.col("body"), F.lit("</body></html>")),
            "utf-8",
        ).alias("html"),
        F.lit("").alias("text"),
        F.lit("en").alias("lang"),
    )


class FetchPlans(MemoryTableIO):
    """MemoryTableIO that records the executed plan of every wave's fetch."""

    def __init__(self):
        super().__init__()
        self.plans = []

    def materialize(self, df, name, iteration):
        out = super().materialize(df, name, iteration)
        if name == "wave_fetched":
            self.plans.append(df._jdf.queryExecution().executedPlan().toString())
        return out


class CallLog(MemoryTableIO):
    """MemoryTableIO that records the name of every materialized table."""

    def __init__(self):
        super().__init__()
        self.names = []

    def materialize(self, df, name, iteration):
        self.names.append(name)
        return super().materialize(df, name, iteration)


def bucket_pruned(plan: str) -> bool:
    """The scan's PartitionFilters name the ``bucket`` column."""
    pf = plan.split("PartitionFilters: [", 1)
    return len(pf) == 2 and "bucket" in pf[1].split("]", 1)[0]


def collected_data(res):
    """Results in collection order — the reference's Vec<Value>."""
    return [
        r.data
        for r in res.results.orderBy("iteration", "dispatch_rank").collect()
    ]


def test_crawl_with_single_engine_order(spark):
    """Port of crawl_with_single_engine (src/lib.rs:117-134): seed example1
    → finds example2, example3 → LIFO visits example3 first; example1
    re-discovered is NOT re-crawled; data collected in exact order."""
    corpus = mock_corpus(
        spark,
        {
            "http://example1.com/": ["http://example2.com", "http://example3.com"],
            "http://example2.com/": [],
            "http://example3.com/": ["http://example1.com"],
        },
        data={
            "http://example1.com/": "d1",
            "http://example3.com/": "d2",  # visited 2nd (LIFO pop)
            "http://example2.com/": "d3",
        },
    )
    job = CrawlJob(seeds=["http://example1.com"], engines=1)
    res = run_crawl(spark, job, corpus)
    # reference golden: order d1 (seed), then last-enqueued link first
    assert collected_data(res) == ["d1", "d2", "d3"]
    assert res.stats.count_visited == 3
    assert res.stats.count_collected == 3
    assert res.stats.count_errors == 0
    assert res.stats.count_retries == 0
    # seen = everything ever enqueued
    assert res.seen.count() == 3
    assert res.frontier.count() == 0


def test_fixture_site_golden(spark):
    """tests/crawling.rs:20-22: visited=2, collected=2, errors=0, retries=0
    on the 2-page fixture site; text byte-identical to corpus ground truth."""
    corpus = fixture_site_corpus(spark)
    job = CrawlJob(seeds=["http://localhost:8000/basic/index.html"], engines=1)
    res = run_crawl(spark, job, corpus)
    s = res.stats
    assert (s.count_visited, s.count_collected, s.count_errors, s.count_retries) == (
        2,
        2,
        0,
        0,
    )
    got = {r.url: r.data for r in res.results.collect()}
    truth = {r.url: r.text for r in corpus.collect()}
    assert got == truth  # byte-identical extracted text per URL


def test_empty_seed_zero_stats(spark):
    # tests/crawling.rs:4-11 — empty seed degrades to zero-stats success
    res = run_crawl(spark, CrawlJob(seeds=[]), fixture_site_corpus(spark))
    assert vars(res.stats) == dict(
        count_errors=0, count_retries=0, count_visited=0, count_collected=0
    )
    assert res.results.count() == 0
    # the same exit as any crawl whose frontier runs dry
    assert res.iterations == 0
    assert list(res.extra) == ["fetch_side"]
    assert res.seen.count() == 0


@pytest.mark.parametrize("engines", [1, None])
def test_drained_frontier_schedules_no_wave(spark, engines):
    """A crawl whose committed frontier is empty stops before scheduling:
    no ``wave`` materializes after the last frontier commit, and there is
    one ``wave`` per crawled iteration. In scale mode a Crawl-delay budget
    makes every schedule materialize its wave."""
    pages = {
        "http://a.com/": ["http://b.com/", "http://c.com/"],
        "http://b.com/": ["http://a.com/"],
        "http://c.com/": [],
    }
    robots = spark.createDataFrame(
        [(u[7:-1], "User-agent: *\nCrawl-delay: 1\n") for u in pages],
        "host string, robots_txt string",
    )
    job = CrawlJob(seeds=["http://a.com"], engines=engines, use_robots=engines is None)
    io = CallLog()
    res = run_crawl(spark, job, mock_corpus(spark, pages), robots=robots, io=io)
    assert res.stats.count_collected == 3 and res.frontier.count() == 0
    last_commit = len(io.names) - 1 - io.names[::-1].index("frontier")
    assert "wave" not in io.names[last_commit:], io.names
    assert io.names.count("wave") == res.iterations


def test_missing_page_is_terminal_error(spark):
    """E3: URL absent from corpus = fetch error → visited++, errors++, no
    result row, never revisited."""
    corpus = mock_corpus(
        spark, {"http://a.com/": ["http://gone.com/404", "http://b.com"], "http://b.com/": []}
    )
    res = run_crawl(spark, CrawlJob(seeds=["http://a.com"], engines=1), corpus)
    assert res.stats.count_visited == 3
    assert res.stats.count_collected == 2
    assert res.stats.count_errors == 1
    assert res.results.filter(F.col("url") == "http://gone.com/404").count() == 0


def test_limit_overshoot_by_at_most_wave(spark):
    """O5: stop scheduling once N collected; in-flight (same wave) results
    still land (src/workload.rs:127-131)."""
    corpus = synthetic_corpus(spark, n_hosts=2, n_pages=40)
    seeds = ["http://h0000.example/p0", "http://h0001.example/p0"]
    job = CrawlJob(seeds=seeds, engines=4, limit=5)
    res = run_crawl(spark, job, corpus)
    assert res.stats.count_collected >= 5
    assert res.stats.count_collected <= 5 + 4  # overshoot ≤ wave size
    assert res.frontier.count() > 0  # un-dispatched URLs remain


def test_retry_policy_first_with_fault_injection(spark):
    """E1/E2 + O2/O3/O4: a timeout is retried (RetryFirst) and succeeds on
    attempt 2; retry budget exhaustion gives up terminally (D2)."""
    corpus = mock_corpus(
        spark,
        {
            "http://a.com/": ["http://flaky.com", "http://dead.com"],
            "http://flaky.com/": [],
            "http://dead.com/": [],
        },
        data={"http://a.com/": "a", "http://flaky.com/": "f", "http://dead.com/": "d"},
    )
    faults = spark.createDataFrame(
        [
            ("http://flaky.com/", 1, "timeout"),  # attempt 1 times out
            ("http://dead.com/", 1, "timeout"),  # always times out
            ("http://dead.com/", 2, "timeout"),
            ("http://dead.com/", 3, "timeout"),
        ],
        "url string, attempt int, fault string",
    )
    job = CrawlJob(
        seeds=["http://a.com"],
        engines=1,
        retry_policy=RetryPolicy.FIRST,
        retry_count=2,  # keep_retry: count>=2 ⇒ give up
        retry_threshold=0.0,
    )
    res = run_crawl(spark, job, corpus, fault_schedule=faults)
    data = collected_data(res)
    assert "a" in data and "f" in data
    assert "d" not in data  # budget exhausted before success
    # visited counts every engine result incl. timeouts
    # a ok, dead t, flaky t, dead t(exhaust), flaky ok → depends on order;
    # assert the invariants instead of the exact interleaving:
    assert res.stats.count_collected == 2
    assert res.stats.count_retries == 3  # flaky×1 + dead×2 (budget 2)
    assert res.stats.count_errors == 0
    assert res.frontier.count() == 0


def test_retry_policy_no_timeouts_are_errors(spark):
    corpus = mock_corpus(spark, {"http://a.com/": []})
    faults = spark.createDataFrame(
        [("http://a.com/", 1, "timeout")], "url string, attempt int, fault string"
    )
    res = run_crawl(
        spark,
        CrawlJob(seeds=["http://a.com"], engines=1, retry_policy=RetryPolicy.NO),
        corpus,
        fault_schedule=faults,
    )
    assert res.stats.count_errors == 1
    assert res.stats.count_retries == 0
    assert res.stats.count_collected == 0


def test_robots_silent_skip(spark):
    """F6: disallowed URLs are silently skipped — not visited, not counted,
    but consumed from the frontier and left in seen (never revisited).
    Hosts missing from the robots table are skipped entirely."""
    corpus = mock_corpus(
        spark,
        {
            "http://a.example/": ["http://a.example/private/x", "http://a.example/ok"],
            "http://a.example/ok": [],
            "http://a.example/private/x": [],
        },
    )
    robots = spark.createDataFrame(
        [("a.example", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string",
    )
    job = CrawlJob(seeds=["http://a.example"], engines=1, use_robots=True)
    res = run_crawl(spark, job, corpus, robots=robots)
    urls = {r.url for r in res.results.collect()}
    assert urls == {"http://a.example/", "http://a.example/ok"}
    assert res.stats.count_visited == 2  # the disallowed one never counted
    assert res.stats.count_errors == 0
    assert res.seen.count() == 3  # ...but it is in seen
    assert res.frontier.count() == 0


def _private_robots(spark, extra: str = ""):
    """a.example disallows ``/private``; no other host has a robots row."""
    return spark.createDataFrame(
        [("a.example", "User-agent: *\nDisallow: /private\n" + extra)],
        "host string, robots_txt string",
    )


def test_disallowed_seed_takes_no_engine(spark):
    """F6 at dispatch: a disallowed seed never enters the frontier, so the
    LIFO top of the seed stack (``/private``, the last seed in sorted
    order) does not take one of the two engines — both allowed seeds go
    out in the first wave, ranked densely."""
    pages = {f"http://a.example/{p}": [] for p in ("p0", "p1", "private")}
    job = CrawlJob(seeds=list(pages), engines=2, use_robots=True)
    res = run_crawl(spark, job, mock_corpus(spark, pages), robots=_private_robots(spark))
    got = sorted((r.iteration, r.dispatch_rank, r.url) for r in res.results.collect())
    assert got == [(0, 1, "http://a.example/p1"), (0, 2, "http://a.example/p0")]
    assert res.iterations == 1 and res.stats.count_visited == 2
    assert res.seen.count() == 3


def test_disallowed_seed_takes_no_crawl_delay_slot(spark):
    """Scale mode: a Crawl-delay of one page a wave is spent on the allowed
    seed, not on the disallowed one that the LIFO order ranks first."""
    pages = {"http://a.example/p0": [], "http://a.example/private": []}
    job = CrawlJob(seeds=list(pages), engines=None, use_robots=True, wave_seconds=30.0)
    robots = _private_robots(spark, "Crawl-delay: 30\n")
    res = run_crawl(spark, job, mock_corpus(spark, pages), robots=robots)
    assert [(r.iteration, r.url) for r in res.results.collect()] == [(0, "http://a.example/p0")]
    assert res.iterations == 1 and res.stats.count_visited == 1


def test_all_seeds_disallowed_runs_no_wave(spark):
    """Seeds that robots rejects (a disallowed path, a host missing from the
    robots table) enter seen but not the frontier: the crawl ends like an
    empty seed list, with no wave."""
    seeds = ["http://a.example/private/x", "http://b.example/"]
    pages = {u: [] for u in seeds}
    job = CrawlJob(seeds=seeds, engines=None, use_robots=True)
    res = run_crawl(spark, job, mock_corpus(spark, pages), robots=_private_robots(spark))
    assert res.iterations == 0
    assert vars(res.stats) == dict(
        count_errors=0, count_retries=0, count_visited=0, count_collected=0
    )
    assert res.results.count() == 0
    assert sorted(r.ukey for r in res.seen.collect()) == seeds


def test_fetch_runs_no_robots_gate(spark):
    """Every frontier row passed the gate on admission, so no wave's fetch
    plan joins the robots rules again."""
    pages = {
        "http://a.example/": ["http://a.example/private/x", "http://a.example/ok"],
        "http://a.example/ok": [],
        "http://a.example/private/x": [],
    }
    job = CrawlJob(seeds=["http://a.example"], engines=None, use_robots=True)
    io = FetchPlans()
    res = run_crawl(spark, job, mock_corpus(spark, pages), robots=_private_robots(spark), io=io)
    assert res.stats.count_visited == 2 and len(io.plans) == res.iterations == 2
    assert not [p for p in io.plans if "__rules" in p]


def test_dedup_across_hosts_and_duplicate_links(spark):
    """D1/D3 on the synthetic graph (duplicate links built in): every page
    visited exactly once; visited == number of reachable pages."""
    corpus = synthetic_corpus(spark, n_hosts=3, n_pages=60)
    seeds = [
        "http://h0000.example/p0",
        "http://h0001.example/p0",
        "http://h0002.example/p0",
    ]
    res = run_crawl(spark, CrawlJob(seeds=seeds, engines=16), corpus)
    n = corpus.count()
    assert res.stats.count_visited == n
    assert res.stats.count_collected == n
    assert res.results.select("url").distinct().count() == n
    assert res.results.count() == n  # no double-visits


def test_parallelism_invariance_of_final_state(spark):
    """north_rule: identical final seen-set and result set at any
    parallelism; only interleaving differs (reference analog:
    src/lib.rs:136-155 is timing-dependent with 2 engines). Bounded mode
    ranks exactly at every ``engines`` value: each wave's dispatch_rank is
    1..n, also past 64 engines."""
    corpus = synthetic_corpus(spark, n_hosts=2, n_pages=30)
    seeds = ["http://h0000.example/p0", "http://h0001.example/p0"]
    r1 = run_crawl(spark, CrawlJob(seeds=seeds, engines=1), corpus)
    r8 = run_crawl(spark, CrawlJob(seeds=seeds, engines=None, per_host_budget=64), corpus)
    r100 = run_crawl(spark, CrawlJob(seeds=seeds, engines=100), corpus)
    urls1 = sorted(r.url for r in r1.results.collect())
    seen1 = sorted(r.ukey for r in r1.seen.collect())
    for res in (r8, r100):
        assert sorted(r.url for r in res.results.collect()) == urls1
        assert sorted(r.ukey for r in res.seen.collect()) == seen1
    ranks: dict[int, list[int]] = {}
    for r in r100.results.collect():
        ranks.setdefault(r.iteration, []).append(r.dispatch_rank)
    for it, got in ranks.items():
        assert sorted(got) == list(range(1, len(got) + 1)), (it, sorted(got))


@pytest.mark.parametrize("mode", ["bounded", "scale"])
def test_checkpoint_resume_identical(spark, tmp_path, mode):
    """north_rule exact resumability: kill after wave k, resume ⇒ identical
    final results/seen/Statistics to an uninterrupted run. The scale case
    (no engine cap) restores the WaveState over a bucket-pruned corpus
    with a binding Crawl-delay budget and a retried timeout."""
    from doonop_spark.sources.tables import SnapshotTableIO

    corpus = synthetic_corpus(spark, n_hosts=2, n_pages=24)
    seeds = ["http://h0000.example/p0", "http://h0001.example/p0"]
    kw = dict(seeds=seeds, engines=4)
    kill, inputs, retried = 3, {}, 0
    if mode == "scale":
        from doonop_spark.sources.corpus import (
            read_bucketed_corpus,
            synthetic_robots,
            write_bucketed_corpus,
        )

        write_bucketed_corpus(corpus, str(tmp_path / "corpus"), n_buckets=8)
        corpus = read_bucketed_corpus(spark, str(tmp_path / "corpus"))
        # host 0: budget floor(30/15) = 2 a wave, and it has 4 pages at depth 2
        inputs = dict(
            robots=synthetic_robots(spark, n_hosts=2, crawl_delay={0: 15.0}),
            fault_schedule=spark.createDataFrame(
                [("http://h0001.example/p1", 1, "timeout")],
                "url string, attempt int, fault string",
            ),
        )
        # a seed on a host missing from the robots table: gated at seeding
        seeds = [*seeds, "http://h0002.example/p0"]
        kw = dict(seeds=seeds, engines=None, use_robots=True, corpus_cache_max_bytes=0)
        kill, retried = 2, 1

    full = run_crawl(
        spark, CrawlJob(**kw), corpus, io=SnapshotTableIO(str(tmp_path / "full")), **inputs
    )
    assert full.extra["fetch_side"] == ("bucketed" if mode == "scale" else "cached")

    # interrupted run: stop after `kill` waves (max_iterations as the kill)
    part_io = SnapshotTableIO(str(tmp_path / "part"))
    run_crawl(spark, CrawlJob(**kw, max_iterations=kill), corpus, io=part_io, **inputs)
    resumed = run_crawl(spark, CrawlJob(**kw), corpus, io=part_io, resume=True, **inputs)

    a = sorted((r.url, r.data) for r in full.results.collect())
    b = sorted((r.url, r.data) for r in resumed.results.collect())
    assert a == b
    full_seen = sorted(r.ukey for r in full.seen.collect())
    assert full_seen == sorted(r.ukey for r in resumed.seen.collect())
    assert set(seeds) <= set(full_seen)
    assert vars(full.stats) == vars(resumed.stats)
    assert full.stats.count_visited == corpus.count() + retried
    assert full.stats.count_retries == retried


def test_bloom_sidecar_crawl_identical(spark):
    """north_rule bloom sidecar wired into the loop: a crawl with the bloom
    pre-filter on reproduces byte-identical results, seen-set and stats vs
    the exact-only path (FPs only cost a probe, never a drop)."""
    corpus = synthetic_corpus(spark, n_hosts=3, n_pages=90)
    seeds = ["http://h0000.example/p0", "http://h0001.example/p0"]
    base = run_crawl(
        spark, CrawlJob(seeds=seeds, engines=None, per_host_budget=64), corpus
    )
    bloomed = run_crawl(
        spark,
        CrawlJob(
            seeds=seeds,
            engines=None,
            per_host_budget=64,
            bloom_partitions=8,
            bloom_expected_per_partition=256,
        ),
        corpus,
    )
    assert sorted((r.url, r.data) for r in base.results.collect()) == sorted(
        (r.url, r.data) for r in bloomed.results.collect()
    )
    assert sorted(r.ukey for r in base.seen.collect()) == sorted(
        r.ukey for r in bloomed.seen.collect()
    )
    assert vars(base.stats) == vars(bloomed.stats)


def test_bloom_copartitioned_crawl_identical(spark):
    """The 10^10 probe path (cogroup on pid, bank never driver-resident)
    reproduces the exact-path crawl byte-identically — results, seen set,
    stats — including across bank folds (fold_every=2)."""
    corpus = synthetic_corpus(spark, n_hosts=3, n_pages=90)
    seeds = ["http://h0000.example/p0", "http://h0001.example/p0"]
    base = run_crawl(
        spark, CrawlJob(seeds=seeds, engines=None, per_host_budget=64), corpus
    )
    coparted = run_crawl(
        spark,
        CrawlJob(
            seeds=seeds,
            engines=None,
            per_host_budget=64,
            bloom_partitions=8,
            bloom_expected_per_partition=256,
            bloom_fold_every=2,
        ),
        corpus,
    )
    assert sorted((r.url, r.data) for r in base.results.collect()) == sorted(
        (r.url, r.data) for r in coparted.results.collect()
    )
    assert sorted(r.ukey for r in base.seen.collect()) == sorted(
        r.ukey for r in coparted.seen.collect()
    )
    assert vars(base.stats) == vars(coparted.stats)


@pytest.mark.parametrize("engines", [1, None])
def test_surt_key_crawl(spark, engines):
    """``url_key="surt"`` (CLI ``--url-key surt``) keys the seen set on the
    SURT form in both the seed frontier and the expanded links: two
    spellings of one page are fetched once, and a link to a seed's other
    spelling is already seen. Parity mode fetches every spelling."""
    a_www, a_bare = "http://www.a.com/p?b=2&a=1", "http://a.com/p?a=1&b=2"
    corpus = mock_corpus(
        spark,
        {
            "http://s.example/": [a_www, a_bare, "http://c.com/"],
            "http://www.c.com/": [],
            a_www: [],
            a_bare: [],
            "http://c.com/": [],
        },
    )
    seeds = ["http://s.example/", "http://www.c.com/"]
    got = {}
    for key in ("surt", "parity"):
        res = run_crawl(spark, CrawlJob(seeds=seeds, engines=engines, url_key=key), corpus)
        got[key] = (
            sorted(r.url for r in res.results.collect()),
            sorted(r.ukey for r in res.seen.collect()),
            res.stats,
        )
    urls, ukeys, stats = got["surt"]
    assert urls == sorted([*seeds, a_www])  # first spelling in link order
    assert ukeys == sorted(["com,a)/p?a=1&b=2", "com,c)/", "example,s)/"])
    assert (stats.count_visited, stats.count_collected) == (3, 3)
    urls, ukeys, stats = got["parity"]
    assert urls == sorted([*seeds, a_www, a_bare, "http://c.com/"])
    assert ukeys == urls
    assert (stats.count_visited, stats.count_collected) == (5, 5)


@pytest.mark.parametrize("side", ["cached", "bucketed", "raw"])
def test_fetch_side_crawl_identical(spark, tmp_path, side):
    """Every wave left-joins one fetch side chosen once per crawl: the
    cached projection, the bucket-pruned corpus (with the cache off) or
    the raw corpus (with the cache off). Each side crawls to the same
    results, Statistics and seen set over a corpus with a link to a
    missing page, a timeout that succeeds on retry and two captures of
    one URL — and the side named is the side whose scan each wave's
    fetch plan shows."""
    from datetime import datetime

    from doonop_spark.sources.corpus import (
        read_bucketed_corpus,
        write_bucketed_corpus,
    )

    pages = mock_corpus(
        spark,
        {
            "http://a.com/": ["http://gone.com/404", "http://flaky.com", "http://b.com"],
            "http://flaky.com/": [],
            "http://b.com/": ["http://c.com"],
            "http://c.com/": [],
        },
        data={"http://c.com/": "new c"},
    )
    old_c = spark.createDataFrame(
        [("http://c.com/", datetime(2023, 1, 1),
          b"<html><body><main>old c</main></body></html>", "", "en")],
        pages.schema,
    )
    path = str(tmp_path / "corpus")
    if side == "bucketed":
        write_bucketed_corpus(pages.unionByName(old_c), path, n_buckets=16)
        corpus = read_bucketed_corpus(spark, path)
        assert "bucket" in corpus.columns
    else:
        pages.unionByName(old_c).write.parquet(path)
        corpus = spark.read.parquet(path)
    faults = spark.createDataFrame(
        [("http://flaky.com/", 1, "timeout")], "url string, attempt int, fault string"
    )

    io = FetchPlans()
    job = CrawlJob(
        seeds=["http://a.com"],
        engines=None,
        retry_threshold=0.0,
        dedup_captures=True,
        corpus_cache_max_bytes=(8 << 30) if side == "cached" else 0,
    )
    res = run_crawl(spark, job, corpus, fault_schedule=faults, io=io)
    assert res.extra == {"fetch_side": side}

    assert sorted((r.url, r.data) for r in res.results.collect()) == [
        ("http://a.com/", "http://a.com/"),
        ("http://b.com/", "http://b.com/"),
        ("http://c.com/", "new c"),  # the latest capture wins
        ("http://flaky.com/", "http://flaky.com/"),
    ]
    assert vars(res.stats) == {
        "count_errors": 1,  # the missing page
        "count_retries": 1,  # flaky's first attempt
        "count_visited": 6,
        "count_collected": 4,
    }
    assert sorted(r.ukey for r in res.seen.collect()) == [
        "http://a.com/",
        "http://b.com/",
        "http://c.com/",
        "http://flaky.com/",
        "http://gone.com/404",
    ]

    assert len(io.plans) == res.iterations
    for plan in io.plans:
        assert ("InMemoryTableScan" in plan) == (side == "cached"), plan
        assert bucket_pruned(plan) == (side == "bucketed"), plan
    if side == "bucketed":
        # the pruning predicate reaches the scan as a PARTITION filter (not
        # a post-scan data filter): a 1-bucket wave reads only that
        # bucket's directory, not the whole corpus
        one = corpus.filter(F.col("bucket").isin([3]))
        assert bucket_pruned(one._jdf.queryExecution().executedPlan().toString())


def test_bucketed_corpus_wrong_b_fails_loudly(spark, tmp_path):
    """pmod(xxhash64(url), B') with B' ≠ layout B maps urls to partition
    values that don't exist — every fetch would silently miss. So no
    caller passes B: the loop reads the layout's own bucket count (sidecar
    → column metadata), prunes correctly and matches the plain-corpus
    run."""
    from doonop_spark.sources.corpus import (
        read_bucketed_corpus,
        write_bucketed_corpus,
    )

    corpus = synthetic_corpus(spark, n_hosts=2, n_pages=20)
    path = str(tmp_path / "b16")
    write_bucketed_corpus(corpus, path, n_buckets=16)
    bcorpus = read_bucketed_corpus(spark, path)
    seeds = ["http://h0000.example/p0", "http://h0001.example/p0"]

    base = run_crawl(spark, CrawlJob(seeds=seeds, engines=8), corpus)
    derived = run_crawl(spark, CrawlJob(seeds=seeds, engines=8), bcorpus)
    assert sorted((r.url, r.data) for r in base.results.collect()) == sorted(
        (r.url, r.data) for r in derived.results.collect()
    )
    assert vars(base.stats) == vars(derived.stats)


def test_bucketed_corpus_on_uri_path(spark, tmp_path):
    """A bucketed layout written and read through a URI (here file://, as
    hdfs:// or s3a:// on a cluster) keeps its bucket-count sidecar next to
    the data: the reader takes B from it, and every wave's fetch scan is
    pruned by a bucket partition filter. All 20 pages are reachable from
    the two roots, so a wrong B would show as fetch errors."""
    from doonop_spark.sources.corpus import (
        corpus_bucket_count,
        read_bucketed_corpus,
        write_bucketed_corpus,
    )

    uri = (tmp_path / "b16").as_uri()
    assert uri.startswith("file://")
    write_bucketed_corpus(synthetic_corpus(spark, n_hosts=2, n_pages=20), uri, n_buckets=16)
    corpus = read_bucketed_corpus(spark, uri)
    assert corpus_bucket_count(corpus) == 16
    assert "_doonop_buckets.json" not in " ".join(corpus.inputFiles())

    io = FetchPlans()
    seeds = ["http://h0000.example/p0", "http://h0001.example/p0"]
    job = CrawlJob(seeds=seeds, engines=8, corpus_cache_max_bytes=0)
    res = run_crawl(spark, job, corpus, io=io)
    assert res.extra == {"fetch_side": "bucketed"}
    assert vars(res.stats) == {
        "count_errors": 0,
        "count_retries": 0,
        "count_visited": 20,
        "count_collected": 20,
    }
    assert len(io.plans) == res.iterations > 1
    assert all(bucket_pruned(plan) for plan in io.plans), io.plans


def test_seen_compaction_identical_and_bounded(spark, tmp_path):
    """Seen-delta compaction: aggressive compaction (every 2 waves) yields
    byte-identical crawl output, and the durable backend holds O(K) seen
    parts at the end instead of one per wave."""
    import os

    from doonop_spark.sources.tables import SnapshotTableIO

    corpus = synthetic_corpus(spark, n_hosts=2, n_pages=64)
    seeds = ["http://h0000.example/p0", "http://h0001.example/p0"]
    base = run_crawl(
        spark, CrawlJob(seeds=seeds, engines=4, seen_compact_every=0), corpus
    )
    io = SnapshotTableIO(str(tmp_path / "c"))
    res = run_crawl(
        spark, CrawlJob(seeds=seeds, engines=4, seen_compact_every=2), corpus, io=io
    )
    assert sorted((r.url, r.data) for r in base.results.collect()) == sorted(
        (r.url, r.data) for r in res.results.collect()
    )
    assert vars(base.stats) == vars(res.stats)
    parts = [
        d for d in os.listdir(tmp_path / "c" / "seen") if d.startswith("part_iter=")
    ]
    # 32 waves (engines=4, 64 pages); without compaction there would be
    # ~33 parts; with K=2 at most K+1 survive past the last compaction
    assert len(parts) <= 3


def test_resume_with_compaction(spark, tmp_path):
    """Kill-and-resume still reproduces the uninterrupted run when
    compaction rewrote the seen chain before the kill."""
    from doonop_spark.sources.tables import SnapshotTableIO

    corpus = synthetic_corpus(spark, n_hosts=2, n_pages=24)
    seeds = ["http://h0000.example/p0", "http://h0001.example/p0"]
    job = CrawlJob(seeds=seeds, engines=4, seen_compact_every=2)

    full = run_crawl(spark, job, corpus, io=SnapshotTableIO(str(tmp_path / "full")))
    part_io = SnapshotTableIO(str(tmp_path / "part"))
    job_k = CrawlJob(seeds=seeds, engines=4, seen_compact_every=2, max_iterations=3)
    run_crawl(spark, job_k, corpus, io=part_io)
    resumed = run_crawl(spark, job, corpus, io=part_io, resume=True)
    assert sorted((r.url, r.data) for r in full.results.collect()) == sorted(
        (r.url, r.data) for r in resumed.results.collect()
    )
    assert sorted(r.ukey for r in full.seen.collect()) == sorted(
        r.ukey for r in resumed.seen.collect()
    )


def test_resume_with_bloom(spark, tmp_path):
    """Kill-and-resume with the bloom sidecar on: the
    bank is rebuilt from the checkpointed seen set at resume, so the
    resumed run reproduces the uninterrupted run exactly (never-drop
    invariant survives the restart)."""
    from doonop_spark.sources.tables import SnapshotTableIO

    corpus = synthetic_corpus(spark, n_hosts=2, n_pages=16)
    seeds = ["http://h0000.example/p0", "http://h0001.example/p0"]
    kw = dict(
        seeds=seeds, engines=4, bloom_partitions=4,
        bloom_expected_per_partition=64, bloom_fold_every=2,
    )
    job = CrawlJob(**kw)

    full = run_crawl(spark, job, corpus, io=SnapshotTableIO(str(tmp_path / "full")))
    part_io = SnapshotTableIO(str(tmp_path / "part"))
    run_crawl(spark, CrawlJob(**kw, max_iterations=2), corpus, io=part_io)
    resumed = run_crawl(spark, job, corpus, io=part_io, resume=True)

    assert sorted((r.url, r.data) for r in full.results.collect()) == sorted(
        (r.url, r.data) for r in resumed.results.collect()
    )
    assert sorted(r.ukey for r in full.seen.collect()) == sorted(
        r.ukey for r in resumed.seen.collect()
    )
    assert vars(full.stats) == vars(resumed.stats)


def test_bloom_crawl_snapshot_holds_durable_tables_only(spark, tmp_path):
    """A bloom crawl on SnapshotTableIO writes only what a resume reads:
    the frontier snapshots, the appended tables and the state manifest."""
    import os

    from doonop_spark.sources.tables import SnapshotTableIO

    corpus = synthetic_corpus(spark, n_hosts=2, n_pages=16)
    job = CrawlJob(
        seeds=["http://h0000.example/p0", "http://h0001.example/p0"],
        engines=4,
        bloom_partitions=4,
        bloom_expected_per_partition=64,
        bloom_fold_every=2,
    )
    res = run_crawl(spark, job, corpus, io=SnapshotTableIO(str(tmp_path)))
    assert res.iterations > 2
    assert sorted(os.listdir(tmp_path)) == ["frontier", "metrics", "results", "seen", "state.json"]
    assert all(d.startswith("iter=") for d in os.listdir(tmp_path / "frontier"))


def test_crawl_delay_budget_enforced_per_wave(spark):
    """north_star politeness: a host whose robots.txt sets Crawl-delay gets
    at most floor(wave_seconds/delay) dispatches per wave — observable in
    the metrics table lineage — while the crawl still completes."""
    from doonop_spark.sources.corpus import synthetic_robots

    corpus = synthetic_corpus(spark, n_hosts=2, n_pages=40, hot_share=0.5)
    # host0: 1 req / 10 s ⇒ budget = floor(30/10) = 3 per wave; host1: free
    robots = synthetic_robots(spark, n_hosts=2, crawl_delay={0: 10.0})
    job = CrawlJob(
        seeds=["http://h0000.example/p0", "http://h0001.example/p0"],
        engines=None,
        per_host_budget=1000,
        use_robots=True,
        wave_seconds=30.0,
    )
    res = run_crawl(spark, job, corpus, robots=robots)
    assert res.stats.count_visited == 40  # budget throttles, never starves
    per_wave = {
        (r.iteration, r.host): r.n
        for r in res.metrics.groupBy("iteration", "host")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    hot = [n for (it, h), n in per_wave.items() if h == "h0000.example"]
    free = [n for (it, h), n in per_wave.items() if h == "h0001.example"]
    assert max(hot) <= 3  # Crawl-delay budget respected every wave
    assert max(free) > 3  # the unconstrained host is NOT throttled
    assert len(hot) >= 6  # the throttled host needed many more waves


def test_opaque_url_enters_seen_never_collected(spark):
    """Frontier policy for opaque non-special URLs (``mailto:``, ``a:``):
    ``url::Url::parse`` accepts them, so in the reference they ENTER the
    frontier/seen set — but they have no host and can never resolve in the
    page corpus, so they surface as a terminal fetch error (E3) and never a
    result row. Pinned e2e after the round-2 property-test dispute."""
    corpus = mock_corpus(
        spark, {"http://a.com/": ["mailto:x@y.z", "http://b.com"], "http://b.com/": []}
    )
    res = run_crawl(spark, CrawlJob(seeds=["http://a.com"], engines=2), corpus)
    assert sorted(r.ukey for r in res.seen.collect()) == [
        "http://a.com/",
        "http://b.com/",
        "mailto:x@y.z",
    ]
    assert sorted(r.url for r in res.results.collect()) == [
        "http://a.com/",
        "http://b.com/",
    ]
    assert res.stats.count_visited == 3  # the opaque URL was dispatched once
    assert res.stats.count_errors == 1  # ...and failed terminally
    assert res.frontier.count() == 0  # ...and is never retried


def test_metrics_lineage(spark):
    corpus = synthetic_corpus(spark, n_hosts=2, n_pages=20)
    res = run_crawl(
        spark,
        CrawlJob(seeds=["http://h0000.example/p0"], engines=8),
        corpus,
    )
    m = res.metrics
    assert set(m.columns) == {"iteration", "partition_id", "host", "status", "n"}
    total = m.agg(F.sum("n")).collect()[0][0]
    assert total == res.stats.count_visited
    assert m.filter(F.col("partition_id").isNull()).count() == 0


def test_bloom_fold_every_4_on_snapshot_io(spark, tmp_path):
    """The bloom's uncovered tail outlives the durable store's two-snapshot
    retention: folding every 4 waves over a longer crawl on SnapshotTableIO
    (with and without seen compaction, whose waves fold early) gives the
    in-memory crawl's results, seen set and Statistics."""
    from doonop_spark.sources.tables import SnapshotTableIO

    corpus = synthetic_corpus(spark, n_hosts=2, n_pages=20)
    kw = dict(
        seeds=["http://h0000.example/p0", "http://h0001.example/p0"],
        engines=4,
        bloom_partitions=4,
        bloom_expected_per_partition=64,
        bloom_fold_every=4,
    )
    mem = run_crawl(spark, CrawlJob(**kw, seen_compact_every=0), corpus)
    assert mem.iterations >= 5
    for compact_every in (0, 3):
        snap = run_crawl(
            spark,
            CrawlJob(**kw, seen_compact_every=compact_every),
            corpus,
            io=SnapshotTableIO(str(tmp_path / f"c{compact_every}")),
        )
        assert snap.iterations == mem.iterations
        assert sorted((r.url, r.data) for r in mem.results.collect()) == sorted(
            (r.url, r.data) for r in snap.results.collect()
        )
        assert sorted(r.ukey for r in mem.seen.collect()) == sorted(
            r.ukey for r in snap.seen.collect()
        )
        assert vars(mem.stats) == vars(snap.stats)
