"""SnapshotTableIO: durable writes for what a resume reads, atomic
frontier snapshots, and a loud error for a table it does not keep."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from doonop_spark.sources.tables import SnapshotTableIO


def test_failed_frontier_write_keeps_previous_snapshot(spark, tmp_path):
    """A frontier materialize that fails mid-write leaves no ``iter=i`` and
    no temp directory; the previous snapshot stays readable."""
    io = SnapshotTableIO(str(tmp_path))
    rows = spark.range(10).select(F.col("id").alias("seq"))
    io.materialize(rows, "frontier", 0)
    broken = rows.select(
        F.when(F.col("seq") == 7, F.raise_error(F.lit("write dies"))).otherwise(F.col("seq")).alias("seq")
    )
    with pytest.raises(Exception, match="write dies"):
        io.materialize(broken, "frontier", 1)
    assert os.listdir(tmp_path / "frontier") == ["iter=0"]
    back = io.load_table(spark, "frontier", 0)
    assert sorted(r.seq for r in back.collect()) == list(range(10))


def test_only_durable_tables_are_written(spark, tmp_path):
    """Tables no resume reads are local checkpoints: nothing lands on disk
    and ``load_table`` names the table it does not keep."""
    io = SnapshotTableIO(str(tmp_path))
    out = io.materialize(spark.range(5), "wave", 0)
    assert out.count() == 5
    assert os.listdir(tmp_path) == []
    with pytest.raises(ValueError, match="'wave'"):
        io.load_table(spark, "wave", 0)
