"""Partitioned bloom sidecar: no false negatives ever, FP rate near
target, anti-join equivalence with and without the probe."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from doonop_spark.operators.bloom import SeenBloom, bloom_flag_copartitioned, build_bloom
from doonop_spark.operators.dedup import anti_join_flagged, anti_join_seen
from doonop_spark.sources.tables import MemoryTableIO


@pytest.fixture(scope="module")
def seen(spark):
    return (
        spark.range(0, 5000)
        .select(F.concat(F.lit("http://x.example/p"), F.col("id")).alias("ukey"))
        .withColumn("url_hash", F.xxhash64("ukey"))
    )


def _links(spark, prefix: str, lo: int, hi: int):
    return (
        spark.range(lo, hi)
        .select(F.concat(F.lit(prefix), F.col("id")).alias("ukey"))
        .withColumn("url_hash", F.xxhash64("ukey"))
    )


def _flag(links, bloom, n_partitions, expected_per_partition=1000):
    """The probe, materialized the way SeenBloom.new_links materializes it."""
    return bloom_flag_copartitioned(
        links, bloom, n_partitions=n_partitions, expected_per_partition=expected_per_partition
    ).localCheckpoint(eager=True)


def test_no_false_negatives(spark, seen):
    bloom = build_bloom(seen, n_partitions=8, expected_per_partition=1000)
    flagged = _flag(seen, bloom, 8)
    assert all(r["__maybe"] for r in flagged.collect())  # every seen key must hit
    assert anti_join_flagged(flagged, seen).count() == 0


def test_fp_rate_bounded(spark, seen):
    bloom = build_bloom(seen, n_partitions=8, expected_per_partition=1000, fp_rate=0.01)
    flagged = _flag(_links(spark, "http://y.example/q", 100000, 110000), bloom, 8)
    hits = flagged.agg(F.avg(F.col("__maybe").cast("double"))).first()[0]
    assert hits < 0.05  # ~1% target, generous bound
    assert anti_join_flagged(flagged, seen).count() == 10000


def test_bloom_params_raise_not_clamp(spark, seen):
    """A key count below 1 or an FP rate outside (0, 1) raises instead of
    being mapped to a working filter, and k is what the FP rate needs, not
    capped: 1e-6 at 1,000 keys takes 28,800 bits and k = 20."""
    for n, fp in [(0, 0.01), (-5, 0.01), (1000, 0.0), (1000, 1.0), (1000, 1.5), (1000, -0.1)]:
        with pytest.raises(ValueError, match="bloom"):
            build_bloom(seen, n_partitions=8, expected_per_partition=n, fp_rate=fp)
    bank = build_bloom(seen, n_partitions=8, expected_per_partition=1000, fp_rate=1e-6)
    assert {(r.m, r.k) for r in bank.select("m", "k").distinct().collect()} == {(28800, 20)}


def test_anti_join_equivalence(spark, seen):
    links = _links(spark, "http://x.example/p", 2500, 7500).withColumn("url", F.col("ukey"))
    exact = sorted(r.ukey for r in anti_join_seen(links, seen).collect())
    bloom = build_bloom(seen, n_partitions=8, expected_per_partition=1000)
    with_bloom = sorted(r.ukey for r in anti_join_flagged(_flag(links, bloom, 8), seen).collect())
    assert exact == with_bloom  # FP only costs an exact probe, never drops
    assert len(exact) == 2500


def test_sparse_bank_no_false_negatives(spark):
    """Regression: with far fewer seen keys than partitions, the highest
    pids hold no rows. The probe must still use the BUILD-time modulus
    (explicit ``p`` column), not max(pid)+1 — that inference marked
    actually-seen keys 'definitely new' (dropped-dup admission)."""
    seen = _links(spark, "http://s.example/", 0, 50)
    bloom = build_bloom(seen, n_partitions=64, expected_per_partition=64)
    rows = bloom.collect()
    assert len(rows) < 64  # precondition: some partitions really are empty
    assert {r.p for r in rows} == {64}
    flagged = _flag(seen, bloom, 64, expected_per_partition=64)
    assert all(r["__maybe"] for r in flagged.collect())
    assert anti_join_flagged(flagged, seen).count() == 0


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _bank_join(plan: str) -> bool:
    """The probe's shuffle-hash join of links to bank blocks."""
    return any("ShuffledHashJoin" in ln and "__blk" in ln for ln in plan.splitlines())


def test_anti_join_probe_runs_once_per_row(spark, seen):
    """``SeenBloom.new_links`` flags ONCE, over a materialized frame: a lazy
    probe/~probe split would run the (possibly expensive) upstream plan and
    the probe twice per wave (measured 4.4× in the crawl loop). The plan
    of the frame it returns holds no bank join; the unmaterialized
    probe's plan does."""
    links = _links(spark, "http://x.example/p", 4000, 6000)
    bloom = SeenBloom(
        MemoryTableIO(), seen, 0, n_partitions=8, expected_per_partition=1000, fp_rate=0.01
    )
    assert _bank_join(
        _plan(
            bloom_flag_copartitioned(
                links, bloom.bank, n_partitions=8, expected_per_partition=1000
            )
        )
    )
    out = bloom.new_links(links, seen, 0)
    assert not _bank_join(_plan(out))
    assert sorted(r.ukey for r in out.collect()) == sorted(
        r.ukey for r in anti_join_seen(links, seen).collect()
    )


def test_copartitioned_empty_pid_is_definitely_new(spark):
    """A pid with no bank row means no seen keys hash there: candidates in
    that pid are definitely new (False), and the probe must not error."""
    # one seen key ⇒ at most one of 16 pids has a bank row
    seen1 = spark.createDataFrame(
        [("http://only.example/",)], "ukey string"
    ).withColumn("url_hash", F.xxhash64("ukey"))
    bloom = build_bloom(seen1, n_partitions=16, expected_per_partition=64)
    bank_pids = {r.pid for r in bloom.collect()}
    assert len(bank_pids) == 1
    rows = bloom_flag_copartitioned(
        _links(spark, "http://new.example/", 0, 200),
        bloom,
        n_partitions=16,
        expected_per_partition=64,
    ).collect()
    assert len(rows) == 200
    empty = [r for r in rows if r.url_hash % 16 not in bank_pids]
    assert empty  # precondition: some rows land on a pid with no bank row
    assert not any(r["__maybe"] for r in empty)


def test_copartitioned_partition_mismatch_raises(spark, seen):
    bloom = build_bloom(seen, n_partitions=8, expected_per_partition=1000)
    links = seen.limit(50)
    with pytest.raises(Exception, match="built with p=8"):
        bloom_flag_copartitioned(
            links, bloom, n_partitions=4, expected_per_partition=1000
        ).collect()


def test_bloom_plans_run_no_python(spark, seen):
    """Build, fold and probe stay in the JVM: no plan holds a Python
    operator."""
    from doonop_spark.operators.bloom import fold_bloom

    bank = build_bloom(seen, n_partitions=8, expected_per_partition=1000)
    delta = _links(spark, "http://z.example/", 0, 100)
    plans = [
        bank,
        fold_bloom(bank, delta, n_partitions=8, expected_per_partition=1000),
        bloom_flag_copartitioned(delta, bank, n_partitions=8, expected_per_partition=1000),
    ]
    python_ops = (
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
    )
    for df in plans:
        plan = _plan(df)
        assert not [op for op in python_ops if op in plan], plan


def test_fold_bloom_bitwise_equals_merge_of_build(spark):
    """The fused fold (one cogrouped Arrow stage) must produce a bank
    BITWISE identical, row by row, to build_bloom over base ∪ delta —
    including a pid with bank rows but no new keys, and a pid with new
    keys but no bank row."""
    from doonop_spark.operators.bloom import fold_bloom

    P, EXP = 8, 256
    # no base key on pid 3: the delta creates that pid's row
    base = spark.createDataFrame(
        [(i * 37,) for i in range(200)], "url_hash long"
    ).filter("pmod(url_hash, 8) != 3")
    # delta concentrated on pids 0 and 3: the other pids keep their rows
    delta = spark.createDataFrame(
        [(i * 91 + 5,) for i in range(60)], "url_hash long"
    ).filter("pmod(url_hash, 8) in (0, 3)")

    def pids(df):
        return {r[0] for r in df.selectExpr("pmod(url_hash, 8)").collect()}

    assert 3 in pids(delta) - pids(base) and 0 in pids(base) & pids(delta)
    assert pids(base) - pids(delta)

    def rows(bank):
        return {
            r["pid"]: (r["p"], r["m"], r["k"], r["n"], bytes(r["bits"]))
            for r in bank.collect()
        }

    want = rows(
        build_bloom(
            base.unionByName(delta), n_partitions=P, expected_per_partition=EXP
        )
    )
    got = rows(
        fold_bloom(
            build_bloom(base, n_partitions=P, expected_per_partition=EXP),
            delta,
            n_partitions=P,
            expected_per_partition=EXP,
        )
    )
    assert got == want


def test_fold_bloom_param_mismatch_raises_on_empty_pids(spark):
    """A fold whose p/m differ from the bank's raises even when every new
    key lands on a pid the bank has no row for (no block of the bank
    meets a block of the delta)."""
    from pyspark.errors import SparkRuntimeException

    from doonop_spark.operators.bloom import fold_bloom

    bank = build_bloom(
        spark.createDataFrame([(i * 4,) for i in range(50)], "url_hash long"),
        n_partitions=4,
        expected_per_partition=256,
    )
    delta = spark.createDataFrame([(i * 4 + 1,) for i in range(50)], "url_hash long")
    assert {r.pid for r in bank.select("pid").collect()} == {0}
    with pytest.raises(SparkRuntimeException, match="bank built with p=4"):
        fold_bloom(bank, delta, n_partitions=4, expected_per_partition=512).collect()
    with pytest.raises(SparkRuntimeException, match="bank built with p=4"):
        fold_bloom(bank, delta, n_partitions=8, expected_per_partition=256).collect()
    # matching parameters fold as before
    folded = fold_bloom(bank, delta, n_partitions=4, expected_per_partition=256)
    assert {r.pid for r in folded.select("pid").collect()} == {0, 1}


def test_fold_bloom_checks_in_plan_not_on_driver(spark):
    """Building a fold launches no Spark job: the parameter check rides in
    the fold's plan, so a mismatched fold fails only when materialized,
    with the same message shape the probe uses."""
    from pyspark.errors import SparkRuntimeException

    from doonop_spark.operators.bloom import fold_bloom

    # a checkpointed bank, as the crawl loop holds it: p and m are data
    bank = build_bloom(
        _links(spark, "http://x.example/", 0, 200), n_partitions=4, expected_per_partition=256
    ).localCheckpoint(eager=True)
    delta = _links(spark, "http://y.example/", 0, 50)
    sc = spark.sparkContext
    sc.setJobGroup("fold_bloom", "fold construction")
    try:
        mismatched = fold_bloom(bank, delta, n_partitions=8, expected_per_partition=256)
        matched = fold_bloom(bank, delta, n_partitions=4, expected_per_partition=256)
        assert sc.statusTracker().getJobIdsForGroup("fold_bloom") == []
        bank.count()  # the group does record jobs
        assert sc.statusTracker().getJobIdsForGroup("fold_bloom")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    with pytest.raises(SparkRuntimeException, match="p=4, m=2496; folded with p=8, m=2496"):
        mismatched.localCheckpoint(eager=True)
    assert matched.localCheckpoint(eager=True).count() > 0
