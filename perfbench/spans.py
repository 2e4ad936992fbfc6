"""Spans recorded from the benchmark's side of the engine's public API.

A :class:`Trace` covers one run. Every ``TableIO.materialize``/``append``
call the crawl loop makes, and every span the benchmark opens itself, is
timed by name. The Spark jobs a span launches are tagged through
``setJobGroup`` and counted with ``statusTracker``; the Python-worker CPU
of the process tree is sampled from /proc at each boundary. Jobs between
two spans are the loop's own driver jobs.

After each materialize the trace counts rows of the checkpointed output in
a job group of its own. That bookkeeping, and the boundary sampling, is
timed apart (``bookkeeping_s``) and left out of every span and job count.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doonop_spark.sources.tables import TableIO

from procs import TreeMeter


def _row_counts(name: str, out: DataFrame) -> dict[str, int]:
    """Row counts of one checkpointed frame, by the table it was written as."""
    aggs = [F.count(F.lit(1)).alias("rows")]
    if name in ("wave_fetched", "wave_missed"):
        ok = F.col("status") == "ok"
        aggs += [
            F.count_if(ok).alias("ok"),
            F.count_if(F.col("status") == "timeout").alias("timeout"),
            F.count_if(F.col("status") == "error").alias("error"),
            F.sum(F.when(ok, F.size("out_links")).otherwise(0)).alias("links"),
        ]
    elif name == "wave" and "__keep" in out.columns:
        aggs.append(F.count_if(F.col("__keep")).alias("kept"))
    elif name == "links_flagged":
        aggs.append(F.count_if(F.col("__maybe")).alias("maybe"))
    row = out.agg(*aggs).first().asDict()
    return {k: int(v or 0) for k, v in row.items()}


class Trace:
    def __init__(self, spark: SparkSession, meter: TreeMeter, tag: str):
        self.sc = spark.sparkContext
        self.meter = meter
        self.tag = tag
        # span name -> {"s", "calls", "jobs", "py_s"}; "driver" holds the
        # jobs launched between spans
        self.spans: dict[str, dict[str, float]] = {}
        self.counts: dict[str, int] = {}  # "<table>.<count>" summed over calls
        self.fetch_rates: list[float] = []  # rows/s of each fetch materialize
        self.bookkeeping_s = 0.0
        self._k = 0
        self._open()

    def _open(self) -> None:
        self._k += 1
        self._group = f"{self.tag}-{self._k}"
        self.sc.setJobGroup(self._group, self._group)

    def _close(self) -> int:
        """Jobs launched in the current group; opens the next group."""
        jobs = len(self.sc.statusTracker().getJobIdsForGroup(self._group))
        self._open()
        return jobs

    def _add(self, name: str, seconds: float, jobs: int, py_s: float) -> None:
        s = self.spans.setdefault(name, {"s": 0.0, "calls": 0, "jobs": 0, "py_s": 0.0})
        s["s"] += seconds
        s["calls"] += 1
        s["jobs"] += jobs
        s["py_s"] += py_s

    @contextmanager
    def span(self, name: str):
        """Time the body as span ``name``; yields a dict whose ``s`` holds
        the body's seconds once it exits."""
        t0 = time.monotonic()
        self._add("driver", 0.0, self._close(), 0.0)
        py0 = self.meter.sample()["py"]
        rec = {"s": 0.0}
        start = time.monotonic()
        try:
            yield rec
        finally:
            end = time.monotonic()
            rec["s"] = end - start
            jobs = self._close()
            self._add(name, rec["s"], jobs, self.meter.sample()["py"] - py0)
            self.bookkeeping_s += (start - t0) + (time.monotonic() - end)

    def count_rows(self, name: str, out: DataFrame, seconds: float) -> None:
        t0 = time.monotonic()
        self._add("driver", 0.0, self._close(), 0.0)
        c = _row_counts(name, out)
        self._close()  # the count's own jobs: bookkeeping, not engine work
        for k, v in c.items():
            self.counts[f"{name}.{k}"] = self.counts.get(f"{name}.{k}", 0) + v
        if name == "wave_fetched" and seconds > 0:
            self.fetch_rates.append(c["rows"] / seconds)
        self.bookkeeping_s += time.monotonic() - t0

    def finish(self) -> None:
        """Close the trailing driver interval and untag later jobs."""
        self._add("driver", 0.0, self._close(), 0.0)
        self.sc.setJobGroup("untraced", "untraced")

    def get(self, name: str, key: str = "s") -> float:
        return self.spans.get(name, {}).get(key, 0.0)

    def wrap(self, inner: TableIO) -> "TracingTableIO":
        return TracingTableIO(inner, self)


class TracingTableIO(TableIO):
    """Delegates to any :class:`TableIO` and traces each materialize and
    append by table name. The first ``bloom`` materialize of a crawl is the
    bank build, later ones are folds."""

    def __init__(self, inner: TableIO, trace: Trace):
        self.inner = inner
        self.trace = trace
        self._bloom_built = False

    def materialize(self, df: DataFrame, name: str, iteration: int) -> DataFrame:
        span = name
        if name == "bloom":
            span = "bloom_fold" if self._bloom_built else "bloom_build"
            self._bloom_built = True
        with self.trace.span(span) as rec:
            out = self.inner.materialize(df, name, iteration)
        self.trace.count_rows(name, out, rec["s"])
        return out

    def append(self, df: DataFrame, name: str, iteration: int, eager: bool = True) -> None:
        with self.trace.span(f"append:{name}"):
            self.inner.append(df, name, iteration, eager)

    def read_appended(self, spark, name):
        return self.inner.read_appended(spark, name)

    def save_state(self, state):
        self.inner.save_state(state)

    def load_state(self):
        return self.inner.load_state()

    def load_table(self, spark, name, iteration):
        return self.inner.load_table(spark, name, iteration)

    def prune_appends(self, name, max_iteration):
        self.inner.prune_appends(name, max_iteration)

    def drop_appends_before(self, name, iteration):
        self.inner.drop_appends_before(name, iteration)
