"""Round-6 optimization instrumentation (guide §1: measure first).

NOT part of the frozen bench contract (bench.py is the driver's timed
protocol and stays untouched); this harness exists so OPTIMIZATION_r06.md
can cite isolated, per-phase numbers:

  --profile-crawl VARIANT   one BFS crawl (plain|bucketed|bloom|politeness)
                            with a timing TableIO:
                            prints per-wave seconds split by materialize
                            name (wave/wave_fetched/new_links/frontier/...)
                            plus the driver-side residual per wave.
  --queries a,b,c [N]       noop-sink (guide §1.4) timings for the named
                            __spark_entry__ queries, N repeats each.
  --explain a,b,c           .explain("formatted") for the named queries.
  --crawl VARIANT [N]       plain wall-time of one crawl variant, N repeats.

Uses the same session shape / env contract as bench.py ($SPARK_GRAFT_SF_DIR,
$SPARK_GRAFT_CPUS).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import (  # noqa: E402
    CPUS,
    N_PAGES,
    SF_DIR,
    bfs_crawl_seconds,
    ensure_corpus,
    session,
)

VARIANTS = {
    "plain": {},
    "bucketed": {},  # the bucketed corpus path; its layout carries B
    "bloom": {"bloom_partitions": 32},
    "politeness": {"politeness": True},
}


def _corpus_path(variant: str) -> str:
    import tempfile

    tmp = os.path.join(tempfile.gettempdir(), f"doonop_bench_corpus_{N_PAGES}")
    if variant == "bucketed":
        return tmp + "_bucketed"
    return tmp


def _prepare(spark, variant: str) -> str:
    import shutil

    tmp = _corpus_path("plain")
    ensure_corpus(spark, tmp, N_PAGES)
    if variant == "bucketed":
        tmp_b = _corpus_path("bucketed")
        if not os.path.exists(os.path.join(tmp_b, "_SUCCESS")):
            from doonop_spark.sources.corpus import write_bucketed_corpus

            shutil.rmtree(tmp_b, ignore_errors=True)
            write_bucketed_corpus(spark.read.parquet(tmp), tmp_b, n_buckets=64)
        return tmp_b
    return tmp


class TimingTableIO:
    """MemoryTableIO wrapper that records wall seconds per materialize/
    append call, keyed by table name, in call order."""

    def __init__(self):
        from doonop_spark.sources.tables import MemoryTableIO

        self._inner = MemoryTableIO()
        self.events: list[tuple[str, str, int, float]] = []  # op, name, iter, sec

    def materialize(self, df, name, iteration):
        t0 = time.monotonic()
        out = self._inner.materialize(df, name, iteration)
        self.events.append(("materialize", name, iteration, time.monotonic() - t0))
        return out

    def append(self, df, name, iteration, eager=True):
        t0 = time.monotonic()
        self._inner.append(df, name, iteration, eager)
        self.events.append(("append", name, iteration, time.monotonic() - t0))

    def __getattr__(self, item):
        return getattr(self._inner, item)


def profile_crawl(variant: str) -> None:
    from doonop_spark.plans.job import CrawlJob
    from doonop_spark.plans.loop import run_crawl
    from doonop_spark.sources.corpus import read_bucketed_corpus, synthetic_robots

    spark = session(CPUS)
    path = _prepare(spark, variant)
    kw = dict(VARIANTS[variant])
    politeness = kw.pop("politeness", False)
    corpus = read_bucketed_corpus(spark, path)
    from bench import N_HOSTS

    seeds = [f"http://h{h:04d}.example/p0" for h in range(N_HOSTS)]
    job = CrawlJob(
        seeds=seeds,
        engines=None,
        per_host_budget=10_000_000,
        bloom_expected_per_partition=max(
            N_PAGES // max(kw.get("bloom_partitions", 1), 1), 1024
        ),
        use_robots=politeness,
        **kw,
    )
    robots = None
    if politeness:
        delay = job.wave_seconds / max(int(N_PAGES * 0.15), 1)
        robots = synthetic_robots(spark, n_hosts=N_HOSTS, crawl_delay={0: delay})

    io = TimingTableIO()
    t0 = time.monotonic()
    res = run_crawl(spark, job, corpus, robots=robots, io=io)
    total = time.monotonic() - t0

    # fold events into per-wave rows
    waves: dict[int, dict[str, float]] = {}
    for op, name, it, sec in io.events:
        waves.setdefault(it, {})[f"{op}:{name}"] = round(
            waves.get(it, {}).get(f"{op}:{name}", 0.0) + sec, 3
        )
    accounted = sum(s for _, _, _, s in io.events)
    by_name: dict[str, float] = {}
    for op, name, _, sec in io.events:
        by_name[f"{op}:{name}"] = round(by_name.get(f"{op}:{name}", 0.0) + sec, 2)
    print(
        json.dumps(
            {
                "variant": variant,
                "total_sec": round(total, 2),
                "visited": res.stats.count_visited,
                "iterations": res.iterations,
                "accounted_sec": round(accounted, 2),
                "residual_sec": round(total - accounted, 2),
                "by_name": by_name,
                "per_wave": {str(k): waves[k] for k in sorted(waves)},
            },
            indent=1,
        )
    )
    spark.stop()


def crawl_walltime(variant: str, repeats: int) -> None:
    spark = session(CPUS)
    path = _prepare(spark, variant)
    kw = dict(VARIANTS[variant])
    politeness = kw.pop("politeness", False)
    out = []
    for _ in range(repeats):
        s, v = bfs_crawl_seconds(spark, path, politeness=politeness, **kw)
        out.append(round(s, 2))
    print(json.dumps({"variant": variant, "runs": out, "visited": v}))
    spark.stop()


def time_queries(names: list[str], repeats: int) -> None:
    import __spark_entry__ as entrymod

    spark = session(CPUS)
    qs = entrymod.queries()
    out: dict[str, list[float]] = {}
    for name in names:
        runs = []
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.monotonic()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs.append(round(time.monotonic() - t0, 3))
        out[name] = runs
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1] == "--profile-crawl":
        profile_crawl(sys.argv[2])
    elif sys.argv[1] == "--crawl":
        crawl_walltime(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 1)
    elif sys.argv[1] == "--queries":
        time_queries(
            sys.argv[2].split(","), int(sys.argv[3]) if len(sys.argv) > 3 else 1
        )
    elif sys.argv[1] == "--explain":
        import __spark_entry__ as entrymod

        spark = session(CPUS)
        qs = entrymod.queries()
        for name in sys.argv[2].split(","):
            print(f"===== {name} =====")
            qs[name](spark, SF_DIR).explain("formatted")
        spark.stop()
    else:
        raise SystemExit(f"unknown mode {sys.argv[1]}")
