"""Scheduler extras: sitemap expansion (S6), graceful-shutdown cancel
(X3), per-host politeness budgets: explicit waves, and select_wave agreeing
with the scale loop's budget_keep_flags."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from doonop_spark.operators.filters import clean_seeds
from doonop_spark.operators.schedule import (
    budget_keep_flags,
    policy_order,
    select_wave,
)
from doonop_spark.plans.job import CrawlJob, RetryPolicy
from doonop_spark.plans.loop import run_crawl
from doonop_spark.sources.corpus import synthetic_corpus
from doonop_spark.sources.seeds import seed_frontier_distributed
from doonop_spark.sources.sitemap import expand_sitemaps, sitemap_urls_from_robots


def test_sitemap_expansion(spark):
    robots = spark.createDataFrame(
        [
            ("a.example", "User-agent: *\nSitemap: http://a.example/sitemap.xml\n"),
            ("b.example", "User-agent: *\nDisallow: /x\n"),  # no sitemap
        ],
        "host string, robots_txt string",
    )
    sm_xml = (
        "<?xml version='1.0'?><urlset>"
        "<url><loc>http://a.example/p1</loc></url>"
        "<url><loc> http://a.example/p2 </loc></url>"
        "</urlset>"
    )
    corpus = spark.createDataFrame(
        [("http://a.example/sitemap.xml", sm_xml.encode())], "url string, html binary"
    )
    sm = sitemap_urls_from_robots(robots)
    assert [r.sitemap_url for r in sm.collect()] == ["http://a.example/sitemap.xml"]
    urls = sorted(r.url for r in expand_sitemaps(sm, corpus).collect())
    assert urls == ["http://a.example/p1", "http://a.example/p2"]
    frontier = seed_frontier_distributed(
        spark, clean_seeds(["http://z.example/"], []), expand_sitemaps(sm, corpus)
    )
    seeds = [r.url for r in frontier.orderBy("seq").collect()]
    assert seeds == [
        "http://a.example/p1",
        "http://a.example/p2",
        "http://z.example/",
    ]


def test_seed_frontier_has_no_python_rdd(spark):
    """The seed rows reach Spark as an Arrow-built LocalRelation, not a
    Python RDD, in both key modes."""
    from doonop_spark.sources.seeds import seed_frontier

    seeds = ["http://a.example/", "http://b.example/x"]
    for url_key in ("parity", "surt"):
        df = seed_frontier(spark, seeds, url_key)
        assert "LogicalRDD" not in df._jdf.queryExecution().optimizedPlan().toString()
        assert [r.seq for r in df.orderBy("seq").collect()] == [0, 1]


def test_seed_frontier_distributed_keys_before_checkpoint(spark):
    """The surt key of distributed seeds is computed before the seed set is
    checkpointed: the seed frame is read twice (the gated frontier commit
    and the seen append), and neither read runs a Python UDF."""
    extra = spark.createDataFrame([("http://b.example/x",)], "url string")
    seeds = seed_frontier_distributed(spark, ["http://a.example/"], extra, "surt")
    plan = seeds._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    assert [r.ukey for r in seeds.orderBy("seq").collect()] == [
        "example,a)/",
        "example,b)/x",
    ]


def test_seed_frontier_distributed_matches_driver_clean(spark, monkeypatch):
    """The DataFrame seed path must reproduce seed_frontier(clean_seeds(...))
    exactly — same urls, same sorted-rank seq — at any input partitioning,
    WITHOUT ever collecting the seed set to the driver (every collect
    during the build is the tiny per-partition-count agg)."""
    from doonop_spark.operators.filters import RegexFilter, clean_seeds
    from doonop_spark.sources.seeds import seed_frontier, seed_frontier_distributed

    n = 5_000
    extra = spark.range(n).select(
        F.concat(
            F.lit("http://h"),
            F.pmod(F.col("id") * 2654435761, F.lit(37)).cast("string"),
            F.lit(".example/sitemap/"),
            F.col("id").cast("string"),
        ).alias("url")
    ).repartition(13)
    # second CLI seed exactly duplicates extra id=0 (pmod(0,37)=0 → h0)
    cli = ["http://z.example/", "http://h0.example/sitemap/0"]
    filters = [RegexFilter(r"/sitemap/33\d$")]

    collected_sizes = []
    from pyspark.sql import DataFrame

    real_collect = DataFrame.collect
    monkeypatch.setattr(
        DataFrame, "collect", lambda self: (r := real_collect(self), collected_sizes.append(len(r)))[0]
    )
    dist = seed_frontier_distributed(spark, clean_seeds(cli, filters), extra, "parity", filters)
    got = real_collect(dist.orderBy("seq"))
    assert all(s <= spark.sparkContext.defaultParallelism for s in collected_sizes)

    raw = [r.url for r in real_collect(extra)]
    expect = real_collect(
        seed_frontier(spark, clean_seeds(cli + raw, filters), "parity").orderBy("seq")
    )
    assert [(r.url, r.seq, r.url_hash, r.host) for r in got] == [
        (r.url, r.seq, r.url_hash, r.host) for r in expect
    ]


def test_cancel_drains_and_resumes(spark, tmp_path):
    """X3: cancel after the first wave ≈ ctrl-c — partial results kept,
    checkpoint resumable to the identical final state."""
    from doonop_spark.sources.tables import SnapshotTableIO

    corpus = synthetic_corpus(spark, n_hosts=2, n_pages=30)
    seeds = ["http://h0000.example/p0", "http://h0001.example/p0"]
    job = CrawlJob(seeds=seeds, engines=4)

    class AfterOneWave:
        def __init__(self):
            self.n = 0

        def is_set(self):
            self.n += 1
            return self.n > 2

    io = SnapshotTableIO(str(tmp_path / "c"))
    partial = run_crawl(spark, job, corpus, io=io, cancel=AfterOneWave())
    assert 0 < partial.stats.count_visited < 30
    resumed = run_crawl(spark, job, corpus, io=io, resume=True)
    full = run_crawl(spark, job, corpus)
    assert sorted(r.url for r in resumed.results.collect()) == sorted(
        r.url for r in full.results.collect()
    )
    # a real threading.Event set up-front stops before any wave
    ev = threading.Event()
    ev.set()
    stopped = run_crawl(spark, job, corpus, cancel=ev)
    assert stopped.stats.count_visited == 0


def _hosts_seqs(df):
    return sorted(((r.host, r.seq) for r in df.collect()), key=str)


def test_default_budget_zero_binds_in_every_impl(spark):
    """default_budget=0 is a budget, not "unbounded": rows without a
    Crawl-delay dispatch nothing, hostless rows always dispatch, and
    select_wave picks the same wave as the scale loop's
    budget_keep_flags."""
    # h0's Crawl-delay of 15 s gives it 2 slots of a 30 s wave
    rows = [
        (f"http://h{h}.example/p{i}", 0, 10 * h + i, False, 0, 0.0, f"h{h}.example",
         15.0 if h == 0 else None)
        for h in range(3)
        for i in range(4)
    ] + [("mailto:x@y", 0, 99, False, 0, 0.0, None, None)]
    frontier = spark.createDataFrame(
        rows,
        "url string, depth int, seq long, is_retry boolean,"
        " retry_count int, retry_at double, host string, delay double",
    ).withColumn("ukey", F.col("url")).withColumn("url_hash", F.xxhash64("ukey"))
    kw = dict(
        policy=RetryPolicy.FIRST, wave_size=None, now=0.0, fresh_empty=False,
        wave_seconds=30.0, default_budget=0,
    )
    want = sorted([("h0.example", 2), ("h0.example", 3), (None, 99)], key=str)
    assert _hosts_seqs(select_wave(frontier, **kw)) == want
    flagged = budget_keep_flags(
        frontier, policy_order(RetryPolicy.FIRST), 30.0, 0,
        default_can_bind=True,
    )
    assert _hosts_seqs(flagged.filter("__keep")) == want


def test_crawl_delay_budget_select_wave_matches_keep_flags(spark):
    """Per-row Crawl-delay budgets (2, 4) and a default budget (3) bound
    each host's wave to its LIFO-latest rows; select_wave and the scale
    loop's budget_keep_flags pick the same rows."""
    # a 30 s wave: delay 15 s ⇒ 2 slots, 7.5 s ⇒ 4, none ⇒ the default
    delays = {0: 15.0, 1: 7.5, 2: None}
    rows = [
        (f"http://h{h}.example/p{i}", f"http://h{h}.example/p{i}", 0, 10 * h + i,
         False, 0, 0.0, f"h{h}.example", delays[h])
        for h in range(3)
        for i in range(6)
    ]
    frontier = spark.createDataFrame(
        rows,
        "url string, ukey string, depth int, seq long, is_retry boolean,"
        " retry_count int, retry_at double, host string, delay double",
    ).withColumn("url_hash", F.xxhash64("ukey"))
    kw = dict(
        policy=RetryPolicy.FIRST,
        wave_size=None,
        now=0.0,
        fresh_empty=False,
        wave_seconds=30.0,
        default_budget=3,
    )
    ws = _hosts_seqs(select_wave(frontier, **kw))
    per_host = {}
    for h, _ in ws:
        per_host[h] = per_host.get(h, 0) + 1
    assert per_host == {"h0.example": 2, "h1.example": 4, "h2.example": 3}
    # budget takes the LIFO-latest per host
    assert ("h0.example", 5) in ws and ("h0.example", 0) not in ws
    flagged = budget_keep_flags(
        frontier, policy_order(RetryPolicy.FIRST), 30.0, 3,
        default_can_bind=True,
    )
    assert _hosts_seqs(flagged.filter("__keep")) == ws


def test_check_url_program(spark):
    """§2.10: the reference's default program collects the page URL."""
    corpus = synthetic_corpus(spark, n_hosts=1, n_pages=3)
    job = CrawlJob(seeds=["http://h0000.example/p0"], engines=1, check="url")
    res = run_crawl(spark, job, corpus)
    assert all(r.data == r.url for r in res.results.collect())


def test_run_crawl_refuses_use_robots_without_table(spark):
    """Library parity with the CLI guard: gating 'on' with no robots
    table must raise, not silently admit every host."""
    import pytest as _pytest

    corpus = synthetic_corpus(spark, n_hosts=1, n_pages=3)
    job = CrawlJob(seeds=["http://h0000.example/p0"], engines=1, use_robots=True)
    with _pytest.raises(ValueError, match="robots table"):
        run_crawl(spark, job, corpus)
