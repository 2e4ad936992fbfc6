"""Benchmark harness (BASELINE.md protocol).

Headline metric: **URLs fetched+deduped/sec** through the frontier
pipeline (schedule → corpus-join fetch → Arrow extract → absolutize →
filter → within-batch dedup → seen anti-join), measured on a
deterministic synthetic corpus sized by the scale factor, at TWO
parallelism levels (local[N/4] vs local[N]) — the sandbox stand-in for
the north rule's N vs 4N executor scaling run. Efficiency =
(throughput_4N / throughput_N) / 4.

Also times the full BFS crawl loop and the headline operator queries from
__spark_entry__.py at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "urls_per_sec": {"local8": ..., "local32": ...},
   "scaling_efficiency": ...}
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.1

# corpus scale: sf0.1 → 400k pages over 50 hosts (hot host owns 30%).
# SPARK_GRAFT_PAGES overrides (used by the sf1.0 = 4M-page crawl runs).
N_PAGES = int(
    os.environ.get("SPARK_GRAFT_PAGES", max(4_000, int(4_000_000 * SF)))
)
# the scaling protocol uses a 4x bigger corpus: per-task and shuffle-setup
# fixed costs must be small against real work for the efficiency number to
# mean anything (the host also carries co-tenant noise; medians + a bigger
# input beat more repetitions)
SCALE_PAGES = N_PAGES * 4
N_HOSTS = 50
SCALE_RUNS = 5
# per-level time budget for the TIMED runs (warmups excluded): hosts vary
# >2x in per-core speed across rounds, and a fixed run count that fits one
# host can blow a wall-clock watchdog on the next. At least MIN_SCALE_RUNS
# samples are always taken; up to SCALE_RUNS when the budget allows.
SCALE_BUDGET_S = float(os.environ.get("SPARK_GRAFT_SCALE_BUDGET", "900"))
MIN_SCALE_RUNS = 2


def _budgeted_runs(fn, max_runs: int, budget_s: float, min_runs: int = MIN_SCALE_RUNS):
    """Run ``fn`` up to ``max_runs`` times, stopping early (but never below
    ``min_runs``) once ``budget_s`` of measured time has elapsed — the
    sample count adapts to the host's speed instead of assuming it."""
    runs = []
    t0 = time.monotonic()
    while len(runs) < max_runs:
        runs.append(fn())
        if len(runs) >= min_runs and time.monotonic() - t0 > budget_s:
            break
    return runs


def _warmups(fn, full_warmups: int = 2, slow_run_s: float = 180.0) -> None:
    """JIT/Python-worker convergence warmups. A second warmup only pays
    when runs are short (convergence effects are a fixed cost — on a host
    where one run takes 3+ minutes the first run already amortizes them,
    and the extra warmup just burns watchdog budget)."""
    for i in range(full_warmups):
        t0 = time.monotonic()
        fn()
        if time.monotonic() - t0 >= slow_run_s:
            break


def session(cores: int) -> SparkSession:
    s = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"doonop_bench_{cores}")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # a crashed python worker otherwise surfaces as an opaque socket
        # EOF (and once as an executor thread blocked forever on the read)
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def session_cluster(n_exec: int, cores_per_exec: int, mem_mb: int = 3072) -> SparkSession:
    """`local-cluster[n, c, mem]` — REAL separate executor JVM processes
    (plus a standalone-style master in the driver JVM): the in-sandbox
    analog of an N-executor cluster, unlike local[*] where all "executors"
    share one JVM's GC/block manager/shuffle. Used to evidence the north
    rule's two-cluster-size criterion with genuinely separate JVMs."""
    repo = os.path.dirname(os.path.abspath(__file__))
    s = (
        SparkSession.builder.master(f"local-cluster[{n_exec},{cores_per_exec},{mem_mb}]")
        .appName(f"doonop_bench_cluster_{n_exec}x{cores_per_exec}")
        .config("spark.executor.memory", f"{mem_mb}m")
        # executor python workers are spawned from $SPARK_HOME, not the
        # driver venv cwd — they need the repo on their own PYTHONPATH to
        # unpickle doonop_spark UDFs (local[*] never hits this: one JVM,
        # driver-inherited workers)
        .config("spark.executorEnv.PYTHONPATH", repo)
        # pin worker python to the driver's interpreter (executors resolve
        # python3 from their own environment otherwise)
        .config("spark.pyspark.python", sys.executable)
        .config("spark.sql.shuffle.partitions", str(n_exec * cores_per_exec))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def measure_level_cluster(
    n_exec: int, cores_per_exec: int, corpus_path: str
) -> list[float]:
    """measure_level under local-cluster: same adaptive protocol (warmups
    + time-budgeted samples over a persisted corpus), executors in
    separate JVM processes. The corpus must already exist (built by a
    local[] run first — generation is excluded from timing either way)."""
    from pyspark import StorageLevel

    spark = session_cluster(n_exec, cores_per_exec)
    # DISK_ONLY: the corpus is pre-materialized per executor like the
    # local-mode .persist(), but caching ~GBs of pages into a single
    # fixed-size executor heap (the n_exec=1 level) would OOM — executor
    # sizes stay FIXED across levels for a fair scaling comparison (real
    # clusters scale executor count, not size), and local-disk blocks sit
    # in the OS page cache anyway
    corpus = spark.read.parquet(corpus_path).persist(StorageLevel.DISK_ONLY)
    corpus.count()
    _warmups(lambda: frontier_throughput(spark, corpus, SCALE_PAGES))
    runs = _budgeted_runs(
        lambda: frontier_throughput(spark, corpus, SCALE_PAGES),
        SCALE_RUNS,
        SCALE_BUDGET_S,
    )
    spark.stop()
    return runs


def cluster_scaling() -> None:
    """The north-rule scaling protocol with REAL separate executor JVMs:
    1 vs 4 executors × 2 cores (N=2 → 4N=8 cores) — the pair a real
    cluster would scale — plus 16 executors × 2 cores (32 cores) to test
    whether the single-JVM 8→32 knee persists when JVMs are separate.
    Each level runs in its own OS process. Prints one JSON line."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    tmp_scale = os.path.join(
        tempfile.gettempdir(), f"doonop_bench_corpus_{SCALE_PAGES}"
    )
    if not os.path.exists(os.path.join(tmp_scale, "_SUCCESS")):
        spark = session(CPUS)
        ensure_corpus(spark, tmp_scale, SCALE_PAGES)
        spark.stop()

    levels = [(1, 2), (4, 2), (16, 2)]
    ups: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    for n_exec, cpe in levels:
        if n_exec * cpe > CPUS:
            continue
        # activity-based watchdog + one retry: a rare executor-side hang
        # (task thread blocked forever in BasePythonRunner reading a dead
        # python worker; observed twice across rounds) would otherwise
        # stall the whole protocol — _run_watchdogged kills on sustained
        # idleness (never on a slow-but-working level), reaps the orphaned
        # JVMs, and reruns once
        out = _run_watchdogged(
            [
                sys.executable, os.path.abspath(__file__),
                "--scale-cluster", str(n_exec), str(cpe), tmp_scale,
            ]
        )
        runs = json.loads(out.stdout.strip().splitlines()[-1])
        key = f"exec{n_exec}x{cpe}"
        spreads[key] = [round(r, 1) for r in runs]
        ups[key] = max(runs)

    result = {
        "mode": "local-cluster (separate executor JVMs)",
        "scale_pages": SCALE_PAGES,
        "urls_per_sec": {k: round(v, 1) for k, v in ups.items()},
        "urls_per_sec_runs": spreads,
        "urls_per_sec_median": {
            k: round(statistics.median(v), 1) for k, v in spreads.items()
        },
    }
    # levels above the host's CPU count were skipped — only compute the
    # efficiencies whose endpoints actually ran
    if "exec4x2" in ups and "exec1x2" in ups:
        result["scaling_efficiency_1_to_4_executors"] = round(
            (ups["exec4x2"] / ups["exec1x2"]) / 4, 3
        )
        result["scaling_efficiency_1_to_4_executors_median"] = round(
            (statistics.median(spreads["exec4x2"]) / statistics.median(spreads["exec1x2"])) / 4, 3
        )
    if "exec16x2" in ups:
        result["scaling_efficiency_4_to_16_executors"] = round(
            (ups["exec16x2"] / ups["exec4x2"]) / 4, 3
        )
        result["scaling_efficiency_4_to_16_executors_median"] = round(
            (statistics.median(spreads["exec16x2"]) / statistics.median(spreads["exec4x2"])) / 4, 3
        )
    print(json.dumps(result))


def ensure_corpus(spark: SparkSession, path: str, n_pages: int) -> None:
    """Materialize a bench corpus once (generation excluded from timing)."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    from doonop_spark.sources.corpus import synthetic_corpus

    corpus = synthetic_corpus(
        spark, n_hosts=N_HOSTS, n_pages=n_pages,
        partitions=CPUS * 2,
        filler_words=150,  # ~1 KB bodies: extract stage is CPU-bound
    )
    corpus.write.mode("overwrite").parquet(path)


def frontier_throughput(spark: SparkSession, corpus, n_pages: int) -> float:
    """One full frontier wave over the WHOLE corpus: fetch+extract+dedup of
    ``n_pages`` URLs — the per-wave hot path of the crawl loop, isolated.
    Half the corpus is pre-seen so the anti-join does real work. ``corpus``
    is a (persisted) DataFrame: the measure targets the pipeline, not the
    parquet scan — in the real loop the frontier lives in memory/cache.
    Returns URLs/sec."""
    from doonop_spark.functions.canonical import host_expr, url_hash_col
    from doonop_spark.functions.extract import extract_page_udf
    from doonop_spark.operators.dedup import anti_join_seen, dedup_within_batch

    frontier = corpus.select(
        "url",
        F.col("url").alias("ukey"),
        url_hash_col(F.col("url")).alias("url_hash"),
        host_expr(F.col("url")).alias("host"),
    )
    seen = corpus.select(
        F.col("url").alias("ukey"), url_hash_col(F.col("url")).alias("url_hash")
    ).filter(F.col("url_hash") % 2 == 0)

    t0 = time.monotonic()
    # ONE Arrow stage (fused extract+absolutize; text computed inside the
    # same kernel — a UDF is opaque to column pruning, so the flagship
    # text extraction genuinely runs for every page), ONE action.
    fetched = (
        frontier.join(corpus, "url", "left")
        .withColumn("__page", extract_page_udf("url", "html"))
        .select(
            "url",
            "url_hash",
            F.col("__page.links").alias("out_links"),
            F.col("__page.text").alias("text"),
        )
    )
    links = fetched.select(
        F.col("url_hash").alias("parent_hash"),
        F.posexplode("out_links").alias("pos", "link"),
    ).select(
        F.col("link").alias("url"),
        F.col("link").alias("ukey"),
        url_hash_col(F.col("link")).alias("url_hash"),
        "parent_hash",
        "pos",
    )
    links = dedup_within_batch(links, [F.asc("parent_hash"), F.asc("pos")])
    fresh = anti_join_seen(links, seen)
    n_new = fresh.count()
    dt = time.monotonic() - t0
    assert n_new > 0
    return n_pages / dt


def bfs_crawl_seconds(
    spark: SparkSession,
    corpus_path: str,
    bloom_partitions: int = 0,
    politeness: bool = False,
    n_pages: int | None = None,
) -> tuple[float, int]:
    """Full iterative BFS crawl wall time on a reduced corpus (the loop
    includes per-wave materialization overhead). A bucketed
    ``corpus_path`` (its layout carries B) and ``bloom_partitions``
    exercise the storage-partitioned fetch and the bloom seen-sidecar (the
    100 TB scale paths) on the same input.
    ``politeness`` adds a robots table whose hot-host Crawl-delay caps the
    host at 15% of the corpus per wave — the per-host budget window
    under a binding constraint; the
    visited set is unchanged (budgets defer, never drop)."""
    from doonop_spark.plans.job import CrawlJob
    from doonop_spark.plans.loop import run_crawl
    from doonop_spark.sources.corpus import read_bucketed_corpus

    corpus = read_bucketed_corpus(spark, corpus_path)
    seeds = [f"http://h{h:04d}.example/p0" for h in range(N_HOSTS)]
    n_pages = n_pages or N_PAGES
    job = CrawlJob(
        seeds=seeds,
        engines=None,
        per_host_budget=10_000_000,
        bloom_partitions=bloom_partitions,
        bloom_expected_per_partition=max(n_pages // max(bloom_partitions, 1), 1024),
        use_robots=politeness,
    )
    robots = None
    if politeness:
        from doonop_spark.sources.corpus import synthetic_robots

        # budget = floor(wave_seconds / delay) = 15% of the corpus per wave
        # for the hot host (which owns 30%): binds at the BFS peak waves
        delay = job.wave_seconds / max(int(n_pages * 0.15), 1)
        robots = synthetic_robots(spark, n_hosts=N_HOSTS, crawl_delay={0: delay})
    t0 = time.monotonic()
    res = run_crawl(spark, job, corpus, robots=robots)
    dt = time.monotonic() - t0
    return dt, res.stats.count_visited


def measure_level(cores: int, corpus_path: str) -> list[float]:
    """One parallelism level: warmups (JIT + Python-worker spawn converge
    only after a couple of full runs — measured; the second is skipped when
    one run already takes 3+ minutes) + up to SCALE_RUNS URLs/sec samples
    over a persisted corpus, stopping at the SCALE_BUDGET_S time budget
    (min 2 samples) so the level completes on slow hosts too."""
    spark = session(cores)
    ensure_corpus(spark, corpus_path, SCALE_PAGES)
    corpus = spark.read.parquet(corpus_path).persist()
    corpus.count()
    _warmups(lambda: frontier_throughput(spark, corpus, SCALE_PAGES))
    runs = _budgeted_runs(
        lambda: frontier_throughput(spark, corpus, SCALE_PAGES),
        SCALE_RUNS,
        SCALE_BUDGET_S,
    )
    spark.stop()
    return runs


def _tree_cpu_jiffies(root_pid: int) -> int:
    """Total utime+stime jiffies of ``root_pid`` and every descendant
    (from /proc — Linux-only, like the rest of the bench's profiling). A
    Spark level is a python driver + java JVM(s) + python workers; hang
    detection must see the whole tree, not just the direct child."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                stat = fh.read().decode("ascii", "replace")
        except OSError:
            continue  # raced a process exit
        # comm (field 2) may contain spaces/parens; fields resume after ')'
        try:
            rest = stat[stat.rindex(")") + 2 :].split()
            ppid, utime, stime = int(rest[1]), int(rest[11]), int(rest[12])
        except (ValueError, IndexError):
            continue
        procs[int(d)] = (ppid, utime + stime)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total = 0
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        if pid in procs:
            total += procs[pid][1]
            stack.extend(children.get(pid, []))
    return total


def _reap_spark_orphans() -> None:
    # the bench is this host's only Spark user; our own session (if any)
    # is started only after the subprocess levels finish
    import subprocess

    for pat in ("pyspark-shell", "pyspark.daemon", "CoarseGrainedExecutorBackend"):
        subprocess.run(["pkill", "-9", "-f", pat], capture_output=True)


def _run_watchdogged(
    cmd: list[str],
    timeout_s: int = 5400,
    idle_kill_s: int = 600,
    poll_s: float = 15.0,
    reap=None,
):
    """subprocess.run with ACTIVITY-BASED hang protection: a rare executor
    task thread can block forever reading from a dead python worker
    (BasePythonRunner$ReaderInputStream — hit across several rounds; the
    signature is host load flat at ~0 with one idle JVM). A fixed
    wall-clock timeout can't distinguish that hang from a healthy run on a
    slow host (round 5: a 1800 s timeout killed a working local[2] level
    TWICE — hosts vary >2x per-core across rounds), so the level is killed
    only when its whole process tree has used <~5% of one core for
    ``idle_kill_s`` — or after ``timeout_s`` as the absolute backstop.
    Kill reaps the orphaned Spark JVMs, then reruns once."""
    import subprocess
    from types import SimpleNamespace

    # ≥5% of one core over a poll interval counts as alive (an idle JVM's
    # GC/timer threads tick well under this; any real Spark stage far over)
    hz = os.sysconf("SC_CLK_TCK") or 100
    alive_jiffies = int(0.05 * poll_s * hz)

    for attempt in (0, 1):
        with tempfile.TemporaryFile(mode="w+") as out_f, tempfile.TemporaryFile(
            mode="w+"
        ) as err_f:
            proc = subprocess.Popen(cmd, stdout=out_f, stderr=err_f, text=True)
            start = last_active = time.monotonic()
            last_j = _tree_cpu_jiffies(proc.pid)
            killed = None
            while True:
                try:
                    proc.wait(timeout=poll_s)
                    break
                except subprocess.TimeoutExpired:
                    pass
                now = time.monotonic()
                j = _tree_cpu_jiffies(proc.pid)
                if j - last_j >= alive_jiffies:
                    last_active = now
                last_j = j
                if now - last_active > idle_kill_s:
                    killed = f"idle {idle_kill_s}s (dead-worker hang signature)"
                elif now - start > timeout_s:
                    killed = f"absolute timeout {timeout_s}s"
                if killed:
                    proc.kill()
                    proc.wait()
                    break
            if killed is None and proc.returncode == 0:
                out_f.seek(0)
                err_f.seek(0)
                return SimpleNamespace(
                    stdout=out_f.read(), stderr=err_f.read(), returncode=0
                )
            err_f.seek(0)
            tail = err_f.read()[-2000:]
            print(
                f"watchdog: level attempt {attempt} failed "
                f"({killed or f'exit {proc.returncode}'}); stderr tail:\n{tail}",
                file=sys.stderr,
            )
        (_reap_spark_orphans if reap is None else reap)()
        if attempt:
            raise RuntimeError(
                f"bench level failed twice: {cmd} ({killed or 'nonzero exit'})"
            )


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    import __spark_entry__ as entrymod

    tmp = os.path.join(tempfile.gettempdir(), f"doonop_bench_corpus_{N_PAGES}")
    tmp_scale = os.path.join(
        tempfile.gettempdir(), f"doonop_bench_corpus_{SCALE_PAGES}"
    )
    timings: dict[str, float] = {}
    ups: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}

    # --- scaling protocol: three parallelism levels, same input -----------
    # each level runs in its OWN process (as spark-submit would): sequential
    # sessions in one JVM poison each other's accumulator/worker state.
    # N=2 vs 4N=8 is the headline pair: in local mode all "executors" share
    # one JVM (shuffle service, GC, block manager), which a real 4N-executor
    # cluster does not — 8→32 on one JVM measures JVM contention as much as
    # the engine, and is reported alongside.
    if not os.path.exists(os.path.join(tmp_scale, "_SUCCESS")):
        # pre-build the scale corpus at full parallelism: generation is
        # excluded from timing, so don't pay for it at local[2]
        spark = session(CPUS)
        ensure_corpus(spark, tmp_scale, SCALE_PAGES)
        spark.stop()
    for cores in (2, 8, CPUS):
        out = _run_watchdogged(
            [sys.executable, os.path.abspath(__file__), "--scale", str(cores), tmp_scale]
        )
        runs = json.loads(out.stdout.strip().splitlines()[-1])
        spreads[f"local{cores}"] = [round(r, 1) for r in runs]
        # the host carries variable co-tenant load (observed 5x swings on
        # an idle repo); max-of-5 approximates the uncontended machine and
        # is the capability number, medians are also reported
        ups[f"local{cores}"] = max(runs)

    eff_2_8 = (ups["local8"] / ups["local2"]) / 4
    eff_8_32 = (ups[f"local{CPUS}"] / ups["local8"]) / (CPUS / 8)
    efficiency = eff_2_8

    # politeness gets its OWN process (r4 verdict #7): running it 5th in
    # the shared session made its number swing 25% with accumulated JVM/GC
    # state from four prior crawls. It runs HERE, before main's own
    # session exists, so the watchdog's orphan reaping can never hit us.
    out = _run_watchdogged(
        [sys.executable, os.path.abspath(__file__), "--polite", tmp]
    )
    polite = json.loads(out.stdout.strip().splitlines()[-1])
    timings["bfs_crawl_politeness"] = round(polite["sec"], 3)
    timings["bfs_crawl_politeness_warmup_plain"] = round(polite["warmup_sec"], 3)

    # --- headline queries at full parallelism -----------------------------
    spark = session(CPUS)
    ensure_corpus(spark, tmp, N_PAGES)
    t0 = time.monotonic()
    crawl_s, visited = bfs_crawl_seconds(spark, tmp)
    timings["bfs_crawl_loop"] = round(crawl_s, 3)

    # scale-path variants on the SAME corpus: storage-partitioned fetch
    # (bucket-pruned corpus scans per wave) and the bloom seen-sidecar.
    # At sandbox scale the whole corpus sits in page cache, so pruning
    # mostly removes scheduler/scan-task overhead; the 100 TB effect is
    # reading k/B of the corpus per wave instead of all of it.
    tmp_bucketed = tmp + "_bucketed"
    if not os.path.exists(os.path.join(tmp_bucketed, "_SUCCESS")):
        from doonop_spark.sources.corpus import write_bucketed_corpus

        # a killed run can leave a partial dir without _SUCCESS;
        # write_bucketed_corpus writes mode=overwrite (clears the path),
        # but rmtree first so a non-parquet leftover can't confuse the scan
        shutil.rmtree(tmp_bucketed, ignore_errors=True)
        write_bucketed_corpus(spark.read.parquet(tmp), tmp_bucketed, n_buckets=64)
    crawl_bucketed_s, visited_b = bfs_crawl_seconds(spark, tmp_bucketed)
    assert visited_b == visited
    timings["bfs_crawl_bucketed"] = round(crawl_bucketed_s, 3)
    # the bloom sidecar: bank cogrouped with links on pid, never
    # driver-collected — same answer as the exact path
    crawl_bloom_cp_s, visited_cp = bfs_crawl_seconds(spark, tmp, bloom_partitions=32)
    assert visited_cp == visited
    timings["bfs_crawl_bloom_copart"] = round(crawl_bloom_cp_s, 3)
    assert polite["visited"] == visited  # budgets defer, never drop

    qs = entrymod.queries()
    for name in (
        "dedup_exact",
        "minhash_lsh_dedup",
        "minhash_dedup_keep",
        "simhash_dedup",
        "ngram_jaccard_dedup",
        "ann_topk_exact",
        "ann_topk_ivf",
        "ann_topk_lsh",
        "embedding_dedup_lsh",
        "quality_score",
        "repetition_stats",
        "line_dedup",
        "token_vocab",
        "token_count",
        "winnow_fingerprint",
        "dataset_split",
        "pack_sequences",
        "multimodal_decode_real",
        "decontaminate",
        "quality_filter_chain",
        "link_degrees",
        "pagerank",
        "wat_links",
        "charset_detect",
        "text_normalize",
        "host_stats",
        "indegree_priority",
        "lifo_schedule",
        "seen_anti_join",
        "politeness_topk",
        "pricing_summary",
        "top_orders",
    ):
        t = time.monotonic()
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.monotonic() - t, 3)
    total = time.monotonic() - t0
    spark.stop()

    print(
        json.dumps(
            {
                "metric": "urls_fetched_deduped_per_sec@local%d" % CPUS,
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "sf": SF,
                "n_pages": N_PAGES,
                "crawl_visited": visited,
                "crawl_urls_per_sec": round(visited / crawl_s, 1),
                "urls_per_sec": {k: round(v, 1) for k, v in ups.items()},
                "urls_per_sec_runs": spreads,
                "urls_per_sec_median": {
                    k: round(statistics.median(v), 1) for k, v in spreads.items()
                },
                "scale_pages": SCALE_PAGES,
                "scaling_efficiency": round(efficiency, 3),
                "scaling_efficiency_n2_to_8": round(eff_2_8, 3),
                "scaling_efficiency_n8_to_32": round(eff_8_32, 3),
            }
        )
    )


def polite_isolated(corpus_path: str) -> None:
    """One politeness crawl in a fresh process (r4 verdict #7: the
    5th-in-sequence slot in main()'s shared session polluted this number
    with 25% run-order contention). A plain crawl first is the warm-up —
    JIT + Python-worker spawn parity with main()'s in-session runs — and
    its time is reported too as a same-process plain/polite comparison."""
    spark = session(CPUS)
    ensure_corpus(spark, corpus_path, N_PAGES)
    warm_s, visited_plain = bfs_crawl_seconds(spark, corpus_path)
    s, v = bfs_crawl_seconds(spark, corpus_path, politeness=True)
    spark.stop()
    print(
        json.dumps(
            {
                "sec": round(s, 3),
                "visited": v,
                "warmup_sec": round(warm_s, 3),
                "warmup_visited": visited_plain,
            }
        )
    )


def warc_throughput() -> None:
    """WARC source/sink throughput (the round-4 ad-hoc protocol, now
    repeatable): re-shard the synthetic corpus into 64 ``.warc.gz``
    archives (one gzip member per record — the Common Crawl convention),
    then measure the distributed write, the streaming parse (html bytes
    forced so column pruning can't fake the number), and the full
    ``warc_corpus`` scan with extraction + lang-ID riding the same pass.
    Prints one JSON line."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from doonop_spark.sources.warc import read_warc, warc_corpus, write_warc_dir

    spark = session(CPUS)
    tmp = os.path.join(tempfile.gettempdir(), f"doonop_bench_corpus_{N_PAGES}")
    ensure_corpus(spark, tmp, N_PAGES)
    warc_dir = os.path.join(tempfile.gettempdir(), f"doonop_bench_warc_{N_PAGES}")
    shutil.rmtree(warc_dir, ignore_errors=True)

    corpus = spark.read.parquet(tmp).repartition(64)
    t0 = time.monotonic()
    n_parts = write_warc_dir(corpus, warc_dir)
    write_s = time.monotonic() - t0
    gz_bytes = sum(
        os.path.getsize(os.path.join(warc_dir, f)) for f in os.listdir(warc_dir)
    )
    glob = os.path.join(warc_dir, "*.warc.gz")

    read_warc(spark, glob).agg(F.sum(F.length("html"))).collect()  # warm-up
    t0 = time.monotonic()
    n = read_warc(spark, glob).count()
    html_bytes = (
        read_warc(spark, glob).agg(F.sum(F.length("html"))).collect()[0][0]
    )
    parse_s = (time.monotonic() - t0) / 2  # two identical scans above

    t0 = time.monotonic()
    warc_corpus(spark, glob).agg(
        F.sum(F.length("text")), F.count_distinct("lang")
    ).collect()
    extract_s = time.monotonic() - t0
    spark.stop()
    print(
        json.dumps(
            {
                "n_pages": N_PAGES,
                "cpus": CPUS,
                "n_archives": n_parts,
                "gz_mb": round(gz_bytes / 1e6, 1),
                "write_sec": round(write_s, 2),
                "parse_records_per_sec": round(n / parse_s, 1),
                "parse_gz_mb_per_sec": round(gz_bytes / 1e6 / parse_s, 1),
                "parse_html_mb_per_sec": round(html_bytes / 1e6 / parse_s, 1),
                "extract_records_per_sec": round(n / extract_s, 1),
            }
        )
    )


def crawl_only() -> None:
    """Crawl-variant comparison at N_PAGES (override via SPARK_GRAFT_PAGES)
    without the scaling protocol or query sweep — used for the sf1.0
    (4M-page) runs where the 16M-page scaling corpus would be excessive.
    Prints one JSON line of per-variant seconds + URLs/sec."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    spark = session(CPUS)
    tmp = os.path.join(tempfile.gettempdir(), f"doonop_bench_corpus_{N_PAGES}")
    ensure_corpus(spark, tmp, N_PAGES)
    out: dict[str, dict] = {}
    plain_s, visited = bfs_crawl_seconds(spark, tmp)
    out["plain"] = {"sec": round(plain_s, 1), "urls_per_sec": round(visited / plain_s, 1)}

    tmp_bucketed = tmp + "_bucketed"
    if not os.path.exists(os.path.join(tmp_bucketed, "_SUCCESS")):
        from doonop_spark.sources.corpus import write_bucketed_corpus

        # a killed run can leave a partial dir without _SUCCESS;
        # write_bucketed_corpus writes mode=overwrite (clears the path),
        # but rmtree first so a non-parquet leftover can't confuse the scan
        shutil.rmtree(tmp_bucketed, ignore_errors=True)
        write_bucketed_corpus(spark.read.parquet(tmp), tmp_bucketed, n_buckets=64)
    s, v = bfs_crawl_seconds(spark, tmp_bucketed)
    assert v == visited
    out["bucketed"] = {"sec": round(s, 1), "urls_per_sec": round(v / s, 1)}
    s, v = bfs_crawl_seconds(spark, tmp, bloom_partitions=32)
    assert v == visited
    out["bloom_copartition"] = {"sec": round(s, 1), "urls_per_sec": round(v / s, 1)}
    s, v = bfs_crawl_seconds(spark, tmp, politeness=True)
    assert v == visited
    out["politeness"] = {"sec": round(s, 1), "urls_per_sec": round(v / s, 1)}
    spark.stop()
    print(json.dumps({"n_pages": N_PAGES, "cpus": CPUS, "variants": out}))


if __name__ == "__main__":
    if len(sys.argv) >= 4 and sys.argv[1] == "--scale":
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        print(json.dumps(measure_level(int(sys.argv[2]), sys.argv[3])))
    elif len(sys.argv) >= 5 and sys.argv[1] == "--scale-cluster":
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        print(
            json.dumps(
                measure_level_cluster(int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
            )
        )
    elif len(sys.argv) >= 2 and sys.argv[1] == "--cluster":
        cluster_scaling()
    elif len(sys.argv) >= 2 and sys.argv[1] == "--warc":
        warc_throughput()
    elif len(sys.argv) >= 3 and sys.argv[1] == "--polite":
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        polite_isolated(sys.argv[2])
    elif len(sys.argv) >= 2 and sys.argv[1] == "--crawl-only":
        crawl_only()
    else:
        main()
