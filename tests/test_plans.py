"""Physical-plan assertions — the 100 TB lens as tests.

These pin the *plan shapes* the engine relies on at scale, so a refactor
that silently degrades them (a broadcast join falling back to sort-merge,
a pandas UDF dropping out of Arrow vectorization, a filter no longer
reaching the parquet scan) fails CI instead of only showing up as a
10×-at-scale regression.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_per_row_python_anywhere(spark):
    """input_hint: no per-row Python on the hot path. Every Python stage in
    every driver query must be Arrow-vectorized (ArrowEvalPython /
    MapInPandas / FlatMapGroupsInPandas) — BatchEvalPython is the
    row-at-a-time pickle path and must never appear."""
    import __spark_entry__ as e

    # queries that run the iterative loop are exercised via their own e2e
    # tests; here we check every single-DAG query's plan
    skip = {"crawl_bfs", "warc_crawl"}
    for name, q in e.queries().items():
        if name in skip:
            continue
        plan = plan_of(q(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python stage"


def test_robots_gate_is_broadcast_join(spark):
    """The admission gate over a compiled, checkpointed robots table (what
    run_crawl passes) is a broadcast join with no Python stage: robots.txt
    is parsed once per crawl, and path matching is regexp_like in the JVM."""
    from doonop_spark.operators.robots import compile_robots, robots_gate

    wave = spark.range(0, 1000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 5).cast("string"), F.lit(".example/p"), F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("h"), (F.col("id") % 5).cast("string"), F.lit(".example")).alias("host"),
    )
    robots = spark.createDataFrame(
        [(f"h{i}.example", "User-agent: *\nDisallow: /p1\n") for i in range(5)],
        "host string, robots_txt string",
    )
    compiled = compile_robots(robots).localCheckpoint(eager=True)
    plan = plan_of(robots_gate(wave, compiled))
    assert "BroadcastHashJoin" in plan  # the wave must NOT shuffle
    assert "SortMergeJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_sitemap_expansion_broadcasts_sitemap_urls(spark):
    """expand_sitemaps must stream the corpus through a broadcast probe of
    the tiny sitemap-URL set — never shuffle the corpus (html included)
    into a sort-merge join."""
    from doonop_spark.sources.sitemap import expand_sitemaps, sitemap_urls_from_robots

    corpus = spark.range(0, 1000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 5).cast("string"),
                 F.lit(".example/p"), F.col("id").cast("string")).alias("url"),
        F.encode(F.concat(F.lit("<urlset><url><loc>http://h0.example/from-sitemap</loc></url></urlset>"
                                ), F.col("id").cast("string")), "utf-8").alias("html"),
    )
    robots = spark.createDataFrame(
        [(f"h{i}.example", f"Sitemap: http://h{i}.example/p{i}\n") for i in range(5)],
        "host string, robots_txt string",
    )
    sm = expand_sitemaps(sitemap_urls_from_robots(robots), corpus)
    plan = plan_of(sm)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert sorted(r.url for r in sm.collect()) == [
        "http://h0.example/from-sitemap"
    ]


def test_parquet_scan_pushdown_and_pruning(spark):
    """Filters reach the parquet scan (PushedFilters) and only referenced
    columns are read (ReadSchema) — a scan reading all 16 lineitem columns
    for a 4-column aggregate would be wrong at any scale."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["pricing_summary"](spark, SF_DIR))
    pushed = plan.split("PushedFilters: [", 1)
    assert len(pushed) == 2 and "l_shipdate" in pushed[1].split("]", 1)[0]
    read = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_extendedprice" in read
    assert "l_comment" not in read  # untouched wide column never read


def test_exact_dedup_has_partial_aggregation(spark):
    """dedup_exact must map-side combine before the exchange: two
    HashAggregate nodes (partial + final) around one shuffle."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["dedup_exact"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_line_dedup_partial_agg_and_narrow_shuffle(spark):
    """line_dedup must map-side combine (partial+final HashAggregate) and
    its exchange must carry only (line_hash, doc) — the line text itself
    never shuffles."""
    import __spark_entry__ as e

    df = e.queries()["line_dedup"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan
    exchange = plan[plan.index("Exchange"):].splitlines()[0]
    assert "line" not in exchange or "line_hash" in exchange


def test_repetition_stats_is_shuffle_free(spark):
    """repetition_stats is a pure per-row projection — no Python, and no
    exchange EXCEPT the single round-robin repartition that spreads the
    single-row-group driver table across cores (round 6: the bare scan
    was one task, serializing every per-row fold on one core). The
    repartition is round-robin by construction — never a keyed shuffle."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["repetition_stats"](spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert "RoundRobinPartitioning" in plan
    assert "hashpartitioning" not in plan
    assert "EvalPython" not in plan


def test_token_vocab_two_stage_aggregation(spark):
    """token_vocab must aggregate in two keyed stages — (token, doc) then
    token — each with map-side partial aggregation, so hot tokens spread
    across partitions in the first exchange."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["token_vocab"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4  # partial+final x two stages
    assert plan.count("Exchange") >= 2


def test_anti_join_on_hash_key(spark):
    """The seen anti-join shuffles on url_hash (+ ukey confirm) — a
    LeftAnti hash join, never a nested-loop."""
    from doonop_spark.operators.dedup import anti_join_seen

    links = spark.range(0, 10_000).select(
        F.col("id").alias("url_hash"), F.col("id").cast("string").alias("ukey")
    )
    seen = spark.range(0, 5_000).select(
        F.col("id").alias("url_hash"), F.col("id").cast("string").alias("ukey")
    )
    plan = plan_of(anti_join_seen(links, seen))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_minhash_candidate_join_is_hash_based(spark):
    """The band-key self-join must be a hash-family join (shuffled hash /
    sort-merge / broadcast — AQE picks broadcast at this scale, which is
    strictly better than a shuffle), never a cartesian/nested-loop pairing,
    and the raw shingle arrays never appear past the signature projection
    (the UDF consumes them; only 128-long signatures and 8-byte band keys
    flow downstream)."""
    from doonop_spark.operators.textdedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # shingling output feeds ONLY the ArrowEvalPython signature stage:
    # every exchange/broadcast boundary below it carries doc ids, band
    # keys or signatures — the text-derived transform() arrays stay
    # within their producing stage
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        assert "transform(" not in seg.splitlines()[0]


def test_cosine_expr_is_jvm_side(spark):
    """The JVM cosine (zip_with + aggregate higher-order functions) plans
    as a pure Project over the scan — no Python stage for the verify step
    of embedding dedup. (HOFs are interpreted JVM expressions, not
    codegen'd — the invariant that matters is no Arrow/pickle boundary.)"""
    from doonop_spark.operators.similarity import cosine_expr

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = emb.select(cosine_expr(F.col("embedding"), F.col("embedding")).alias("c"))
    plan = plan_of(df)
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "zip_with" in plan and "aggregate(" in plan  # HOFs in the Project


def test_per_wave_driver_jobs_flat_and_bounded(spark, monkeypatch):
    """Per-wave fixed driver cost: every scalar the loop needs (wave size,
    stats, frontier bookkeeping, bucket sets) rides an Observation on a
    state-store materialize that runs anyway, and seen deltas append
    lazily. Asserted over a ≥50-wave crawl:

    - EVERY Spark job issued during the crawl is attributable to an
      ``io.materialize``/``io.append`` call — zero standalone
      count/collect/agg bookkeeping jobs anywhere in the loop;
    - exactly 4 materialize actions per wave (wave, wave_fetched,
      new_links, frontier), flat in the number of waves (appends:
      compaction-only, ≤ waves/K).

    (DAG-job counts per action vary with join strategy — broadcast
    exchanges submit their own jobs — so the invariant is on ACTIONS.)"""
    from doonop_spark.plans.job import CrawlJob
    from doonop_spark.plans.loop import run_crawl
    from doonop_spark.sources.corpus import synthetic_corpus
    from doonop_spark.sources.tables import MemoryTableIO

    def njobs():
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    trace = []
    orig_mat = MemoryTableIO.materialize
    orig_app = MemoryTableIO.append

    def mat(self, df, name, iteration):
        a = njobs()
        out = orig_mat(self, df, name, iteration)
        trace.append(("mat", name, njobs() - a))
        return out

    def app(self, df, name, iteration, eager=True):
        a = njobs()
        orig_app(self, df, name, iteration, eager)
        trace.append(("app", name, njobs() - a))

    monkeypatch.setattr(MemoryTableIO, "materialize", mat)
    monkeypatch.setattr(MemoryTableIO, "append", app)

    corpus = synthetic_corpus(spark, n_hosts=1, n_pages=54, hot_share=1.0)
    job = CrawlJob(seeds=["http://h0000.example/p0"], engines=1)
    before = njobs()
    res = run_crawl(spark, job, corpus)
    total = njobs() - before
    waves = res.iterations
    assert waves >= 50 and res.stats.count_visited == 54

    traced = sum(n for _, _, n in trace)
    assert total == traced, (
        f"{total - traced} job(s) issued outside the state store — a "
        "bookkeeping count/collect leaked back into the loop"
    )
    mats = [name for kind, name, _ in trace if kind == "mat"]
    # 4 per wave + the one-time seed-frontier materialize
    assert len(mats) == 4 * waves + 1, f"{len(mats)} materializes / {waves} waves"
    # eager appends only on compaction waves (seen_compact_every=8)
    eager_apps = [n for kind, _, n in trace if kind == "app" and n > 0]
    assert len(eager_apps) <= waves // 8 + 1
