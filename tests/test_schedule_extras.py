"""Scheduler extras: sitemap expansion (S6), graceful-shutdown cancel
(X3), applyInPandas politeness parity with the window implementation."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from doonop_spark.operators.schedule import select_wave
from doonop_spark.plans.job import CrawlJob, RetryPolicy
from doonop_spark.plans.loop import run_crawl
from doonop_spark.sources.corpus import synthetic_corpus
from doonop_spark.sources.sitemap import (
    expand_sitemaps,
    seeds_with_sitemaps,
    sitemap_urls_from_robots,
)


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
    seeds = seeds_with_sitemaps(["http://z.example/"], robots, corpus, [])
    assert seeds == [
        "http://a.example/p1",
        "http://a.example/p2",
        "http://z.example/",
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


def test_default_budget_zero_binds_in_every_impl(spark):
    """default_budget=0 is a budget, not "unbounded": hosts without a
    budget row dispatch nothing, hostless rows always dispatch, and the
    window, window2 and pandas schedulers pick the same wave (as does the
    scale loop's budget_keep_flags)."""
    from doonop_spark.operators.schedule import budget_keep_flags, policy_order

    rows = [
        (f"http://h{h}.example/p{i}", 0, 10 * h + i, False, 0, 0.0, f"h{h}.example")
        for h in range(3)
        for i in range(4)
    ] + [("mailto:x@y", 0, 99, False, 0, 0.0, None)]
    frontier = spark.createDataFrame(
        rows,
        "url string, depth int, seq long, is_retry boolean,"
        " retry_count int, retry_at double, host string",
    ).withColumn("ukey", F.col("url")).withColumn("url_hash", F.xxhash64("ukey"))
    budgets = spark.createDataFrame([("h0.example", 2)], "host string, budget int")
    kw = dict(
        policy=RetryPolicy.FIRST, wave_size=None, now=0.0, fresh_empty=False,
        per_host_budget=budgets, default_budget=0,
    )
    want = [("h0.example", 2), ("h0.example", 3), (None, 99)]
    for impl in ("window", "window2", "pandas"):
        got = sorted(
            ((r.host, r.seq) for r in select_wave(frontier, impl=impl, **kw).collect()),
            key=str,
        )
        assert got == sorted(want, key=str), impl
    for impl in ("window", "window2"):
        flagged = budget_keep_flags(
            frontier, policy_order(RetryPolicy.FIRST), budgets, 0,
            impl=impl, default_can_bind=True,
        )
        got = sorted(((r.host, r.seq) for r in flagged.filter("__keep").collect()), key=str)
        assert got == sorted(want, key=str), impl


def test_politeness_pandas_matches_window(spark):
    rows = [
        (f"http://h{h}.example/p{i}", f"http://h{h}.example/p{i}", 0, 10 * h + i,
         False, 0, 0.0, f"h{h}.example")
        for h in range(3)
        for i in range(6)
    ]
    frontier = spark.createDataFrame(
        rows,
        "url string, ukey string, depth int, seq long, is_retry boolean,"
        " retry_count int, retry_at double, host string",
    ).withColumn("url_hash", F.xxhash64("ukey"))
    budgets = spark.createDataFrame(
        [("h0.example", 2), ("h1.example", 4)], "host string, budget int"
    )
    kw = dict(
        policy=RetryPolicy.FIRST,
        wave_size=None,
        now=0.0,
        fresh_empty=False,
        per_host_budget=budgets,
        default_budget=3,
    )
    w = select_wave(frontier, impl="window", **kw)
    p = select_wave(frontier, impl="pandas", **kw)
    w2 = select_wave(frontier, impl="window2", **kw)
    ws = sorted((r.host, r.seq) for r in w.collect())
    ps = sorted((r.host, r.seq) for r in p.collect())
    assert ws == ps
    assert sorted((r.host, r.seq) for r in w2.collect()) == ws
    per_host = {}
    for h, _ in ws:
        per_host[h] = per_host.get(h, 0) + 1
    assert per_host == {"h0.example": 2, "h1.example": 4, "h2.example": 3}
    # budget takes the LIFO-latest per host
    assert ("h0.example", 5) in ws and ("h0.example", 0) not in ws


def test_check_url_program(spark):
    """§2.10: the reference's default program collects the page URL."""
    corpus = synthetic_corpus(spark, n_hosts=1, n_pages=3)
    job = CrawlJob(seeds=["http://h0000.example/p0"], engines=1, check="url")
    res = run_crawl(spark, job, corpus)
    assert all(r.data == r.url for r in res.results.collect())


def test_salt_for_skew_spreads_hot_host(spark):
    """X1: a wave where one host owns 80% of rows must NOT serialize the
    extract stage — after salting the hot host's rows span multiple
    partitions (ceil(count/target) salts), while tiny hosts stay at one
    shard each; row multiset is unchanged."""
    from doonop_spark.operators.schedule import salt_for_skew

    n = 10_000
    wave = spark.range(n).select(
        F.concat(F.lit("http://u"), F.col("id")).alias("url"),
        F.concat(F.lit("http://u"), F.col("id")).alias("ukey"),
        F.xxhash64(F.concat(F.lit("http://u"), F.col("id"))).alias("url_hash"),
        F.when(F.col("id") % 10 < 8, "hot.example")
        .otherwise(F.concat(F.lit("cold"), (F.col("id") % 10).cast("string"), F.lit(".example")))
        .alias("host"),
    )
    salted = salt_for_skew(wave, target_rows=1_000)
    spread = (
        salted.withColumn("pid", F.spark_partition_id())
        .groupBy("host")
        .agg(F.countDistinct("pid").alias("parts"), F.count("*").alias("n"))
        .collect()
    )
    by_host = {r.host: r for r in spread}
    # hot host: 8000 rows / 1000 target = 8 salts → >1 partition
    assert by_host["hot.example"].parts >= 4, by_host["hot.example"]
    assert by_host["hot.example"].n == 8_000
    assert sorted(r.url for r in salted.collect()) == sorted(r.url for r in wave.collect())


def test_crawl_loop_salts_at_threshold(spark, monkeypatch):
    """The loop engages salt_for_skew exactly when a wave exceeds
    salt_target_rows (plans/loop.py gate) — spied through the module
    symbol the loop calls."""
    import doonop_spark.plans.loop as loopmod
    from doonop_spark.operators.schedule import salt_for_skew as real_salt

    calls = []

    def spy(wave, target_rows):
        calls.append(target_rows)
        return real_salt(wave, target_rows)

    monkeypatch.setattr(loopmod, "salt_for_skew", spy)

    corpus = synthetic_corpus(spark, n_hosts=3, n_pages=400, hot_share=0.8)
    seeds = [f"http://h{h:04d}.example/p0" for h in range(3)]

    # threshold far above every wave: never engages
    job = CrawlJob(seeds=seeds, engines=None, per_host_budget=10**9,
                   salt_target_rows=100_000)
    run_crawl(spark, job, corpus)
    assert calls == []

    # threshold below the BFS peak waves: engages on the big waves only
    job = CrawlJob(seeds=seeds, engines=None, per_host_budget=10**9,
                   salt_target_rows=20)
    res = run_crawl(spark, job, corpus)
    assert len(calls) > 0 and all(t == 20 for t in calls)
    assert res.stats.count_visited == 400


def test_budget_window2_skewed_frontier_exact_and_bounded(spark):
    """window2 (two-phase per-host top-k) must pick EXACTLY the rows the
    single-window form picks on a frontier where one host owns 90% of
    candidates, while its phase-1 sort work is spread over multiple
    partitions instead of one task per host."""
    from doonop_spark.operators.schedule import (
        _budget_window_two_phase,
        policy_order,
    )

    n = 20_000
    frontier = spark.range(n).select(
        F.concat(F.lit("http://u"), F.col("id")).alias("url"),
        F.concat(F.lit("http://u"), F.col("id")).alias("ukey"),
        F.xxhash64(F.concat(F.lit("http://u"), F.col("id"))).alias("url_hash"),
        F.when(F.col("id") % 10 < 9, "hot.example")
        .otherwise("cold.example")
        .alias("host"),
        F.lit(0).alias("depth"),
        F.col("id").alias("seq"),
        (F.col("id") % 7 == 0).alias("is_retry"),
        F.lit(0).alias("retry_count"),
        (F.col("id") % 5).cast("double").alias("retry_at"),
    ).repartition(8)
    budgets = spark.createDataFrame(
        [("hot.example", 137), ("cold.example", 41)], "host string, budget int"
    )
    kw = dict(per_host_budget=budgets, default_budget=3)
    order = policy_order(RetryPolicy.FIRST)

    one = select_wave(frontier, RetryPolicy.FIRST, None, now=99.0,
                      fresh_empty=False, impl="window", **kw)
    two = select_wave(frontier, RetryPolicy.FIRST, None, now=99.0,
                      fresh_empty=False, impl="window2", **kw)
    got_one = sorted(r.url for r in one.collect())
    got_two = sorted(r.url for r in two.collect())
    assert got_two == got_one
    assert len(got_one) == 137 + 41

    # phase 1 spreads the hot host: its pre-phase-2 survivors span >1
    # partition (the single-window form would put ALL 18k hot rows in one)
    cand = frontier  # no ripeness filter needed for the shape check
    shards = spark.sparkContext.defaultParallelism
    salt = F.pmod(F.col("url_hash"), F.lit(shards))
    from pyspark.sql import Window as W

    w1 = W.partitionBy(F.col("host"), salt).orderBy(*order)
    # AQE coalesces these kB-sized shuffle partitions into one at test
    # scale (advisory size 64 MB), hiding the spread it would keep at
    # real scale — turn it off for the shape assertion only
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        phase1 = (
            cand.withColumn("__rn1", F.row_number().over(w1))
            .filter(F.col("__rn1") <= 137)
            .withColumn("pid", F.spark_partition_id())
        )
        parts = (
            phase1.filter(F.col("host") == "hot.example")
            .select("pid").distinct().count()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert parts > 1, "hot host's phase-1 top-k ran in a single task"


def test_run_crawl_refuses_use_robots_without_table(spark):
    """Library parity with the CLI guard: gating 'on' with no robots
    table must raise, not silently admit every host."""
    import pytest as _pytest

    corpus = synthetic_corpus(spark, n_hosts=1, n_pages=3)
    job = CrawlJob(seeds=["http://h0000.example/p0"], engines=1, use_robots=True)
    with _pytest.raises(ValueError, match="robots table"):
        run_crawl(spark, job, corpus)


def test_resolve_politeness_impl():
    from doonop_spark.operators.schedule import resolve_politeness_impl

    # explicit modes pass through untouched
    for m in ("window", "window2", "pandas"):
        assert resolve_politeness_impl(m, 10**9, 0) == m
    # auto: threshold gates on the observed frontier count
    assert resolve_politeness_impl("auto", 100, 1000) == "window"
    assert resolve_politeness_impl("auto", 1001, 1000) == "window2"
    assert resolve_politeness_impl("auto", 1000, 1000) == "window"  # > not >=
    # unknown count (resume from a pre-auto state file): conservative
    assert resolve_politeness_impl("auto", None, 1000) == "window"
