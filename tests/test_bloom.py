"""Partitioned bloom sidecar: no false negatives ever, FP rate near
target, anti-join equivalence with and without the probe."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from doonop_spark.operators.bloom import (
    BloomBank,
    bloom_probe,
    build_bloom,
)
from doonop_spark.operators.dedup import anti_join_seen


@pytest.fixture(scope="module")
def seen(spark):
    return (
        spark.range(0, 5000)
        .select(F.concat(F.lit("http://x.example/p"), F.col("id")).alias("ukey"))
        .withColumn("url_hash", F.xxhash64("ukey"))
    )


def test_no_false_negatives(spark, seen):
    bloom = build_bloom(seen, n_partitions=8, expected_per_partition=1000)
    bank = BloomBank.collect(bloom)
    hashes = np.array([r.url_hash for r in seen.collect()], dtype=np.int64)
    assert bank.maybe_seen(hashes).all()  # every seen key must hit


def test_fp_rate_bounded(spark, seen):
    bloom = build_bloom(seen, n_partitions=8, expected_per_partition=1000, fp_rate=0.01)
    bank = BloomBank.collect(bloom)
    fresh = (
        spark.range(100000, 110000)
        .select(F.xxhash64(F.concat(F.lit("http://y.example/q"), F.col("id"))).alias("h"))
        .collect()
    )
    hits = bank.maybe_seen(np.array([r.h for r in fresh], dtype=np.int64))
    assert hits.mean() < 0.05  # ~1% target, generous bound


def test_anti_join_equivalence(spark, seen):
    links = (
        spark.range(2500, 7500)
        .select(F.concat(F.lit("http://x.example/p"), F.col("id")).alias("ukey"))
        .withColumn("url_hash", F.xxhash64("ukey"))
        .withColumn("url", F.col("ukey"))
    )
    exact = sorted(r.ukey for r in anti_join_seen(links, seen).collect())
    bloom = build_bloom(seen, n_partitions=8, expected_per_partition=1000)
    probe = bloom_probe(spark, bloom)
    with_bloom = sorted(r.ukey for r in anti_join_seen(links, seen, probe).collect())
    assert exact == with_bloom  # FP only costs an exact probe, never drops
    assert len(exact) == 2500


def test_sparse_bank_no_false_negatives(spark):
    """Regression: with far fewer seen keys than partitions, the highest
    pids hold no rows. The bank must still probe with the BUILD-time
    modulus (explicit ``p`` column), not max(pid)+1 — the old inference
    marked actually-seen keys 'definitely new' (dropped-dup admission)."""
    seen = (
        spark.range(0, 50)
        .select(F.concat(F.lit("http://s.example/"), F.col("id")).alias("ukey"))
        .withColumn("url_hash", F.xxhash64("ukey"))
    )
    bloom = build_bloom(seen, n_partitions=64, expected_per_partition=64)
    rows = bloom.collect()
    assert len(rows) < 64  # precondition: some partitions really are empty
    bank = BloomBank.collect(bloom)
    assert bank.p == 64
    hashes = np.array([r.url_hash for r in seen.collect()], dtype=np.int64)
    assert bank.maybe_seen(hashes).all()


def test_anti_join_probe_runs_once_per_row(spark, seen):
    """The probe branch must flag ONCE over a materialized frame: a lazy
    probe/~probe split would run the (possibly expensive) upstream plan and
    the probe UDF twice per wave (measured 4.4× in the crawl loop).
    Accumulator counts total rows through a counting probe."""
    acc = spark.sparkContext.accumulator(0)

    def counting_probe(col):
        @F.pandas_udf(T.BooleanType())
        def _probe(h: pd.Series) -> pd.Series:
            acc.add(len(h))
            return (h % 2 == 0)

        return _probe(col)

    links = (
        spark.range(0, 1000)
        .select(F.concat(F.lit("http://z.example/p"), F.col("id")).alias("ukey"))
        .withColumn("url_hash", F.xxhash64("ukey"))
    )
    out = anti_join_seen(links, seen, counting_probe)
    out.count()
    # both branches consumed; probe evaluated exactly once per input row
    assert acc.value == 1000


def test_copartitioned_flags_match_broadcast(spark, seen):
    """The cogroup probe (no driver bank) must flag every row identically
    to the broadcast probe — including rows whose pid has no bank row
    (definitely new) and hashes that are bloom false positives."""
    from doonop_spark.operators.bloom import bloom_flag_copartitioned

    links = (
        spark.range(2500, 9000)
        .select(F.concat(F.lit("http://x.example/p"), F.col("id")).alias("ukey"))
        .withColumn("url_hash", F.xxhash64("ukey"))
    )
    bloom = build_bloom(seen, n_partitions=8, expected_per_partition=1000)
    bank = BloomBank.collect(bloom)
    expected = {
        r.ukey: bool(m)
        for r, m in zip(
            links.collect(),
            bank.maybe_seen(
                np.array([r.url_hash for r in links.collect()], dtype=np.int64)
            ),
        )
    }
    got = {
        r.ukey: r["__maybe"]
        for r in bloom_flag_copartitioned(links, bloom, n_partitions=8).collect()
    }
    assert got == expected
    # no false negatives: every actually-seen key flagged maybe
    assert all(got[f"http://x.example/p{i}"] for i in range(2500, 5000))


def test_copartitioned_empty_pid_is_definitely_new(spark):
    """A pid with no bank row means no seen keys hash there: candidates in
    that pid are definitely new (False), and the probe must not error."""
    from doonop_spark.operators.bloom import bloom_flag_copartitioned

    # one seen key ⇒ at most one of 16 pids has a bank row
    seen1 = spark.createDataFrame(
        [("http://only.example/",)], "ukey string"
    ).withColumn("url_hash", F.xxhash64("ukey"))
    bloom = build_bloom(seen1, n_partitions=16, expected_per_partition=64)
    links = (
        spark.range(0, 200)
        .select(F.concat(F.lit("http://new.example/"), F.col("id")).alias("ukey"))
        .withColumn("url_hash", F.xxhash64("ukey"))
    )
    rows = bloom_flag_copartitioned(links, bloom, n_partitions=16).collect()
    assert len(rows) == 200
    bank = BloomBank.collect(bloom)
    exp = bank.maybe_seen(np.array([r.url_hash for r in rows], dtype=np.int64))
    assert [r["__maybe"] for r in rows] == [bool(x) for x in exp]


def test_copartitioned_partition_mismatch_raises(spark, seen):
    from doonop_spark.operators.bloom import bloom_flag_copartitioned

    bloom = build_bloom(seen, n_partitions=8, expected_per_partition=1000)
    links = seen.limit(50)
    with pytest.raises(Exception, match="built with p=8"):
        bloom_flag_copartitioned(links, bloom, n_partitions=4).collect()


def test_resolve_probe_mode_auto(spark, seen):
    """'auto' picks by computed bank size: broadcast within the threshold,
    copartition at north-star scale (10^10 keys ≈ 12 GB bank); explicit
    modes pass through; junk raises. The size formula must match the
    bytes a built bank actually holds."""
    from doonop_spark.operators.bloom import (
        bank_size_bytes,
        resolve_probe_mode,
    )

    assert resolve_probe_mode("auto", 32, 1_000_000, 0.01) == "broadcast"
    assert (
        resolve_probe_mode("auto", 1024, 10_000_000_000 // 1024, 0.01)
        == "copartition"
    )
    # pass-through regardless of size
    assert resolve_probe_mode("broadcast", 1024, 10**10 // 1024, 0.01) == "broadcast"
    assert resolve_probe_mode("copartition", 4, 10, 0.1) == "copartition"
    with pytest.raises(ValueError, match="unknown bloom probe mode"):
        resolve_probe_mode("bogus", 4, 10, 0.1)

    bank = build_bloom(seen, n_partitions=4, expected_per_partition=500)
    built = sum(len(r.bits) for r in bank.select("bits").collect())
    # empty pids emit no row, so built ≤ formula; with 4 populated pids equal
    assert built == bank_size_bytes(4, 500, 0.01)


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
    key lands on a pid the bank has no row for (no per-pid row to compare
    against inside the cogroup)."""
    from doonop_spark.operators.bloom import fold_bloom

    bank = build_bloom(
        spark.createDataFrame([(i * 4,) for i in range(50)], "url_hash long"),
        n_partitions=4,
        expected_per_partition=256,
    )
    delta = spark.createDataFrame([(i * 4 + 1,) for i in range(50)], "url_hash long")
    assert {r.pid for r in bank.select("pid").collect()} == {0}
    with pytest.raises(ValueError, match="fold_bloom: bank built with p=4"):
        fold_bloom(bank, delta, n_partitions=4, expected_per_partition=512).collect()
    with pytest.raises(ValueError, match="fold_bloom: bank built with p=4"):
        fold_bloom(bank, delta, n_partitions=8, expected_per_partition=256).collect()
    # matching parameters fold as before
    folded = fold_bloom(bank, delta, n_partitions=4, expected_per_partition=256)
    assert {r.pid for r in folded.select("pid").collect()} == {0, 1}
