"""run_crawl — the iterative wave driver (SURVEY.md §3; reference loop at
``src/workload.rs:79-200``).

One wave = one Catalyst-planned batch, mirroring one dispatch-collect
cycle of the reference:

1. **schedule** — pick the wave from the frontier: retry-policy priority,
   LIFO seq order, ripeness, per-host politeness budget, global engine cap
   (operators/schedule.py). Pure JVM.
2. **fetch** — join the wave against the pages corpus on ``url`` (S4: the
   corpus replaces the live WebDriver fetch). A URL missing from the
   corpus is a terminal fetch error (E3: visited++, errors++, no result
   row). An optional ``fault_schedule`` table ``(url, attempt, fault)``
   injects ``timeout`` (retryable, E1/E2) and ``error`` faults per attempt.
3. **extract** — Arrow UDFs over ``html``: out-links + flagship text
   (byte-identical per URL), in the same stage as the fetch join, whose
   url-keyed shuffle already spreads a hot host over many tasks.
4. **expand** — posexplode links in page order, absolutize (P4), filter
   (F5 before the dedup shuffle), canonical seen-key, within-batch dedup
   (D3), anti-join the seen table (D1, optional bloom pre-filter), robots
   gate (F6/F7: disallowed links are dropped silently but still enter the
   seen set, exactly like the reference's pop-then-skip).
5. **commit** — results/metrics appended, frontier/seen snapshotted via
   TableIO, scalar state saved ⇒ exact resume at wave granularity.

Termination: the schedule is empty (frontier exhausted — the reference's
``job_counter == 0``), the artifact limit is reached (O5: in-flight
results still land, so output may overshoot by up to one wave — the
reference overshoots by up to the in-flight count), or max_iterations.

Crawl-order parity: with ``engines=1`` every wave carries exactly one URL
and the visit order is byte-identical to the reference's single-engine
order (``src/lib.rs:117-134``); at any parallelism the final seen-set and
result *set* are identical, only the interleaving differs — the same
guarantee the reference offers (its multi-engine order is timing-dependent,
``src/lib.rs:136-155``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from doonop_spark.functions.canonical import (
    host_expr,
    surt_key_udf,
    url_hash_col,
)
from doonop_spark.functions.extract import extract_page_udf
from doonop_spark.operators.bloom import (
    BROADCAST_BANK_MAX_BYTES,
    bank_size_bytes,
    bloom_flag_copartitioned,
    bloom_probe,
    build_bloom,
    fold_bloom,
    resolve_probe_mode,
)
from doonop_spark.operators.dedup import SEEN_COLS, anti_join_seen, dedup_within_batch
from doonop_spark.operators.filters import apply_link_filters
from doonop_spark.operators.robots import compile_robots, robots_gate
from doonop_spark.operators.schedule import (
    budget_keep_flags,
    policy_order,
    politeness_budget,
    select_wave,
)
from doonop_spark.plans.job import CrawlJob, RetryPolicy
from doonop_spark.sources.corpus import bucket_expr, corpus_bucket_count
from doonop_spark.sources.seeds import seed_frontier, seeds_from_list
from doonop_spark.sources.tables import MemoryTableIO, TableIO

__all__ = ["Statistics", "CrawlResult", "run_crawl"]

RESULTS_SCHEMA = (
    "iteration int, dispatch_rank long, seq long, url string, depth int, data string"
)


def _observe_status(df: DataFrame, iteration: int):
    """Attach per-status counts as an Observation riding the frame's next
    materialize action (K2 stats without a dedicated groupBy job).
    Returns (observed_df, get) where get() -> {n, ok, timeout, error}."""
    obs = Observation(f"fetched_{iteration}")
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("status") == "ok").alias("ok"),
        F.count_if(F.col("status") == "timeout").alias("timeout"),
        F.count_if(F.col("status") == "error").alias("error"),
    )
    return out, lambda: {k: int(v) for k, v in obs.get.items()}


@dataclass
class Statistics:
    """Reference ``Statistics`` (src/workload.rs:44-50)."""

    count_errors: int = 0
    count_retries: int = 0
    count_visited: int = 0
    count_collected: int = 0


@dataclass
class CrawlResult:
    results: DataFrame  # collection order = (iteration, dispatch_rank)
    metrics: DataFrame  # per-(iteration, host, status) lineage counts
    stats: Statistics
    seen: DataFrame
    frontier: DataFrame  # rows never scheduled (non-empty iff limit hit)
    iterations: int = 0
    extra: dict = field(default_factory=dict)


def _empty_results(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], RESULTS_SCHEMA)


def _empty_metrics(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [], "iteration int, partition_id int, host string, status string, n long"
    )


def _ukey(url: Column, url_key: str) -> Column:
    return surt_key_udf(url) if url_key == "surt" else url


def run_crawl(
    spark: SparkSession,
    job: CrawlJob,
    corpus: DataFrame,
    robots: DataFrame | None = None,
    fault_schedule: DataFrame | None = None,
    io: TableIO | None = None,
    data_expr: Column | None = None,
    resume: bool = False,
    cancel=None,
    clock=None,
) -> CrawlResult:
    """Crawl ``corpus`` from ``job.seeds``; see module docstring.

    ``data_expr`` is the check-program surface (§2.10): a Column over the
    fetched+extracted wave that becomes the collected ``data`` value. The
    default follows ``job.check``: 'text' = flagship byte-identical text
    extraction; 'url' = the reference's default program
    (``return window.location.href`` ≡ the page URL).

    ``cancel`` (threading.Event-like) is the ctrl-c analog (X3,
    src/main.rs:41-48): when set, the current wave drains and commits,
    then the loop stops — everything collected so far is returned and the
    checkpoint is resumable.

    ``clock`` (callable → seconds) is the wall-clock source for
    ``job.retry_clock == 'wall'`` ripeness (O3 parity mode); defaults to
    ``time.time``, injectable for deterministic tests.
    """
    import time as _time

    clock = clock or _time.time
    io = io or MemoryTableIO()
    # mirror the CLI's guard (library parity): gating "on" with no table
    # would silently not gate at all — robots_gate's table-missing
    # semantics are per-HOST fetch-error skips, not an engine-wide bypass
    if job.use_robots and robots is None:
        raise ValueError(
            "use_robots=True requires a robots table: a corpus-join engine "
            "has no live robots fetch; without the table every host would "
            "be silently admitted"
        )
    # check_data_fn: optional Column factory over (url, html) evaluated
    # INSIDE the fetch stage (shape() below), for check programs that need
    # the raw page: Side programs (Arrow UDF) and the recognized JS
    # one-liners (pure JVM exprs — title regex / html decode)
    check_data_fn = None
    if data_expr is None and job.check == "url":
        data_expr = F.col("url")
    elif job.check == "side":
        # P3: the Side program runs against every fetched page; its stored
        # RESULT — null included — is the collected value
        from doonop_spark.functions.side import side_data_udf

        side_udf = side_data_udf(job.side_program or "{}")
        check_data_fn = lambda: side_udf(F.col("url"), F.col("html"))
        if data_expr is None:
            data_expr = F.col("check_data")
    elif job.check == "title":
        check_data_fn = lambda: F.regexp_extract(
            F.decode(F.col("html"), "UTF-8"),
            r"(?i)<title[^>]*>([\s\S]*?)</title\s*>",
            1,
        )
        if data_expr is None:
            data_expr = F.col("check_data")
    elif job.check == "html":
        check_data_fn = lambda: F.decode(F.col("html"), "UTF-8")
        if data_expr is None:
            data_expr = F.col("check_data")

    # storage-partitioned fetch: corpus written by write_bucketed_corpus
    # carries a 'bucket' partition column derived from pmod(xxhash64(url), B).
    # B is validated against — or derived from — the layout's own record
    # (read_bucketed_corpus sidecar → column metadata): pruning with the
    # wrong modulus would silently miss every page (fetch "errors"), so a
    # mismatch must fail loudly instead. (Resolved before seeding so the
    # seed materialize can observe the wave-0 bucket set.)
    layout_b = corpus_bucket_count(corpus)
    corpus_buckets = job.corpus_buckets
    if layout_b is not None:
        if corpus_buckets == 0:
            corpus_buckets = layout_b  # bucketed corpus ⇒ prune by default
        elif corpus_buckets != layout_b:
            raise ValueError(
                f"corpus_buckets={corpus_buckets} but the corpus layout was "
                f"written with n_buckets={layout_b}; pmod(xxhash64(url), "
                f"{corpus_buckets}) would match no stored partition"
            )
    bucketed_fetch = corpus_buckets > 0 and "bucket" in corpus.columns

    def _bucket_metric():
        # the frontier-level bucket set is a superset of any wave's bucket
        # set (wave ⊆ frontier), so pruning with it is always sound — the
        # same pre-gate-superset argument the old wave-level observation
        # made. Riding the frontier materialize makes it free (guide §2.4:
        # no dedicated bookkeeping jobs).
        return F.collect_set(bucket_expr(F.col("url"), corpus_buckets)).alias(
            "buckets"
        )

    # ---- init / resume -----------------------------------------------------
    state = io.load_state() if resume else None
    stats = Statistics()
    frontier_buckets: list | None = None
    if state is not None:
        iteration = state["iteration"]
        seq_counter = state["seq_counter"]
        collected = state["collected"]
        fresh_count = state["fresh_count"]
        # older state files lack the key: None makes the first resumed
        # wave assume retries and a binding default budget
        frontier_rows = state.get("frontier_rows")
        stats = Statistics(**state["stats"])
        frontier = io.load_table(spark, "frontier", iteration)
        # drop orphan appends from a wave that died before its state commit
        for t in ("seen", "results", "metrics"):
            io.prune_appends(t, iteration)
        seen = io.read_appended(spark, "seen")
    else:
        cleaned = seeds_from_list(job.seeds, job.filters)
        if not cleaned and job.seed_frame is None:
            # reference: empty seed ⇒ empty result, zero stats
            # (src/workload.rs:81-83)
            empty = _empty_results(spark)
            return CrawlResult(
                empty, _empty_metrics(spark), stats,
                empty.select(url_hash_col(F.col("url")).alias("url_hash"),
                             F.col("url").alias("ukey")),
                empty, 0,
            )
        iteration = 0
        collected = 0
        if job.seed_frame is not None:
            # distributed seeding (S6 at scale): sitemap-expanded seeds
            # stay a DataFrame end-to-end; counts ride the materialize via
            # an Observation instead of a driver list length
            from doonop_spark.sources.seeds import seed_frontier_distributed

            obs_seed = Observation("seed_frontier")
            seed_metrics = [F.count(F.lit(1)).alias("n")]
            if bucketed_fetch:
                seed_metrics.append(_bucket_metric())
            frontier = seed_frontier_distributed(
                spark, cleaned, job.seed_frame, job.url_key, job.filters
            ).observe(obs_seed, *seed_metrics)
            frontier = io.materialize(frontier, "frontier", 0)
            n_seeds = int(obs_seed.get["n"])
            if bucketed_fetch:
                frontier_buckets = list(obs_seed.get["buckets"])
            if n_seeds == 0:
                empty = _empty_results(spark)
                return CrawlResult(
                    empty, _empty_metrics(spark), stats,
                    empty.select(url_hash_col(F.col("url")).alias("url_hash"),
                                 F.col("url").alias("ukey")),
                    empty, 0,
                )
            seq_counter = n_seeds
            fresh_count = n_seeds
            frontier_rows = n_seeds
        else:
            frontier = seed_frontier(spark, cleaned, job.url_key)
            seq_counter = len(cleaned)
            fresh_count = len(cleaned)
            frontier_rows = len(cleaned)
            if bucketed_fetch:
                obs_seed0 = Observation("seed_buckets")
                frontier = frontier.observe(obs_seed0, _bucket_metric())
            frontier = io.materialize(frontier, "frontier", 0)
            if bucketed_fetch:
                frontier_buckets = list(obs_seed0.get["buckets"])
        # the seen table is append-only (monotone, §2.9): store per-wave
        # DELTAS and anti-join against their union — rewriting the full
        # seen set every wave would be O(total²) over the crawl. Seeds are
        # the wave "-1" delta (enqueue-time insert, src/workload.rs:205).
        io.append(frontier.select(*SEEN_COLS), "seen", -1)
        seen = io.read_appended(spark, "seen")
        io.save_state(
            {
                "iteration": 0,
                "seq_counter": seq_counter,
                "collected": collected,
                "fresh_count": fresh_count,
                "frontier_rows": frontier_rows,
                "stats": vars(stats),
            }
        )

    budgets = None
    if robots is not None and job.use_robots:
        # robots.txt is parsed ONCE per crawl (the reference's per-(domain,
        # robot) verifier cache, src/robots.rs:23-33): one Arrow pass
        # compiles it to Java regexes, checkpointed so both of every
        # wave's gates and the Crawl-delay budgets stay in the JVM
        robots = compile_robots(robots, job.robot).localCheckpoint(eager=True)
        budgets = politeness_budget(robots, job.wave_seconds)
    faults = None
    if fault_schedule is not None:
        # static like the robots table: checkpointed once instead of
        # re-reading its source (Python tasks for a driver-built frame)
        # for the broadcast of every wave's fetch
        faults = fault_schedule.select(
            F.col("url").alias("__furl"),
            F.col("attempt").alias("__fattempt"),
            F.col("fault").alias("__fault"),
        ).localCheckpoint(eager=True)
    parity_seq = job.engines is not None and job.engines <= 64

    # ---- corpus cache (guide §5: reuse × recompute-cost) -------------------
    # The fetch join re-reads the corpus EVERY wave — the single biggest
    # per-wave cost at bench scale (measured: ~40% of the plain crawl).
    # When the optimizer's size estimate fits job.corpus_cache_max_bytes,
    # persist the fetch projection ONCE, hash-partitioned AND sorted by the
    # join key: every wave's SortMergeJoin then reads the cached partitions
    # with no corpus-side Exchange or Sort (plan-verified), shuffling only
    # the wave. MEMORY_AND_DISK spills gracefully; unpersisted on exit. At
    # 100 TB the estimate exceeds any sane budget and the scan-per-wave
    # fetch (bucket-pruned or raw corpus) remains the scale path.
    cached_corpus = None
    if job.corpus_cache_max_bytes > 0:
        try:
            est = int(
                corpus._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            est = None
        if est is not None and est <= job.corpus_cache_max_bytes:
            from pyspark import StorageLevel

            fetch_cols = ["url", "html"] + (
                ["warc_ts"] if job.dedup_captures else []
            )
            n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
            cached_corpus = (
                corpus.select(*fetch_cols)
                .repartition(n_shuffle, "url")
                .sortWithinPartitions("url")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )

    # ---- fetch side, chosen once per crawl ----------------------------------
    # Every wave left-joins ONE corpus side on url (a URL missing from it
    # is a terminal fetch error, E3), in this order of precedence:
    # 1. the cached projection above: the SortMergeJoin reads its
    #    partitions with no corpus-side Exchange or Sort, shuffling only
    #    the wave (bucket pruning is a scan optimization the cache makes
    #    moot);
    # 2. the bucket-pruned corpus (the 100 TB plan): the corpus is
    #    storage-partitioned by bucket = pmod(xxhash64(url), B)
    #    (write_bucketed_corpus) and each wave's bucket set (≤ min(wave, B)
    #    ints) is pushed down as a partition predicate, so the scan reads
    #    only the wave's buckets instead of the whole corpus;
    # 3. the raw corpus.
    # The side changes only the physical plan, never the result.
    prune_buckets = cached_corpus is None and bucketed_fetch
    fetch_side = corpus if cached_corpus is None else cached_corpus
    fetch_keys = ["bucket", "url"] if prune_buckets else "url"

    # partitioned bloom seen-sidecar (north_rule): built once over the
    # current seen set (covers resume too), then FOLDED every
    # bloom_fold_every waves — the bank may lag the seen set, so rows the
    # bloom clears as definitely-new are still exact-checked against the
    # small uncovered delta tail (bloom_pending). Never-drop invariant:
    # covered portion has no false negatives (bloom property), uncovered
    # portion is exact — so no duplicate is ever admitted.
    use_bloom = job.bloom_partitions > 0
    bloom_df = None
    bloom_pending: list[DataFrame] = []  # seen deltas not yet in the bank
    bloom_probe_mode = job.bloom_probe_mode
    if use_bloom:
        # 'auto': the bank's size is a pure function of its parameters, so
        # the engine picks the probe strategy itself (broadcast under the
        # threshold, co-partitioned cogroup above) and logs the choice
        bloom_probe_mode = resolve_probe_mode(
            job.bloom_probe_mode,
            job.bloom_partitions,
            job.bloom_expected_per_partition,
            job.bloom_fp_rate,
        )
        if job.bloom_probe_mode == "auto":
            import logging

            logging.getLogger("doonop_spark").info(
                "bloom probe mode auto → %s (bank %d bytes, threshold %d)",
                bloom_probe_mode,
                bank_size_bytes(
                    job.bloom_partitions,
                    job.bloom_expected_per_partition,
                    job.bloom_fp_rate,
                ),
                BROADCAST_BANK_MAX_BYTES,
            )
        bloom_df = io.materialize(
            build_bloom(
                seen,
                n_partitions=job.bloom_partitions,
                expected_per_partition=job.bloom_expected_per_partition,
                fp_rate=job.bloom_fp_rate,
            ),
            "bloom",
            iteration,
        )
    # broadcast-probe closure, rebuilt only when the BANK changes (initial
    # build + every fold) — collecting/broadcasting the bank once per wave
    # was pure overhead, the bank is immutable between folds
    bloom_probe_fn = (
        bloom_probe(spark, bloom_df)
        if use_bloom and bloom_probe_mode != "copartition"
        else None
    )

    # ---- the loop (reference src/workload.rs:79-200) -----------------------
    waves_run = 0
    while iteration < job.max_iterations:
        if cancel is not None and cancel.is_set():
            break  # graceful shutdown: previous wave fully committed
        # O5: the limit gates *scheduling*, not landing — the first wave
        # always dispatches (the reference dispatches seeds before any
        # inc_limit), and overshoot is ≤ one wave, the analog of the
        # reference's ≤ in-flight-count overshoot (src/workload.rs:127-131)
        if job.limit is not None and waves_run > 0 and collected >= job.limit:
            break

        # O3 ripeness clock: logical wave index (deterministic) or real
        # wall-clock seconds (reference parity, src/retry.rs:38-46)
        wave_now = (
            float(iteration) if job.retry_clock == "wave" else float(clock())
        )
        fresh_empty = fresh_count == 0
        # retries exist in the frontier iff some rows are is_retry — known
        # for free from the frontier observation (fresh vs total); unknown
        # (None, e.g. a pre-auto resume state) falls back conservatively.
        has_retries = (
            frontier_rows is None or fresh_count != frontier_rows
        )
        # the scalar default budget provably cannot bind when the WHOLE
        # frontier holds no more rows than the budget (row_number per host
        # ≤ total rows ≤ budget) — the common case for the engine-bound-
        # lifted crawl, where it previously cost a full per-host window
        # shuffle+sort every wave for nothing (guide §2.4).
        default_bind = job.per_host_budget is not None and (
            frontier_rows is None or frontier_rows > job.per_host_budget
        )
        deferred: list[DataFrame] = []  # not-dispatched rows, as filters
        use_anti_remaining = False
        obs_wave = None
        bkts = None

        if job.engines is not None:
            # parity / bounded-wave mode: the reference's exact machinery,
            # complement via anti-join (a top-k has no filter complement).
            wave = select_wave(
                frontier,
                job.retry_policy,
                job.engines,
                now=wave_now,
                fresh_empty=fresh_empty,
                per_host_budget=budgets,
                default_budget=job.per_host_budget,
            )
            use_anti_remaining = True
            # dispatch_rank fixes the deterministic "completion order"
            # within the wave. Parity mode ranks by the exact policy order;
            # scale mode avoids the single-partition sort — ordering within
            # a wave is not observable there anyway.
            if parity_seq:
                wave = wave.withColumn(
                    "dispatch_rank",
                    F.row_number().over(
                        Window.orderBy(*policy_order(job.retry_policy))
                    ),
                )
            else:
                wave = wave.withColumn(
                    "dispatch_rank", F.monotonically_increasing_id()
                )
            obs_wave = Observation(f"wave_{iteration}")
            wave_metrics = [F.count(F.lit(1)).alias("n")]
            if bucketed_fetch:
                wave_metrics.append(
                    F.collect_set(
                        bucket_expr(F.col("url"), corpus_buckets)
                    ).alias("buckets")
                )
            wave = wave.observe(obs_wave, *wave_metrics)
            wave = io.materialize(wave, "wave", iteration)
            n_sched = int(obs_wave.get["n"])
            if bucketed_fetch:
                bkts = list(obs_wave.get["buckets"])
        else:
            # scale mode: ripeness and policy are FILTERS over the frontier,
            # so the rows staying behind are filters too — the per-wave
            # frontier ∖ wave anti-join is gone (guide §2.4: remove the
            # shuffle outright). Bucket sets ride the frontier observation
            # (superset of the wave's buckets: pruning stays sound).
            ripe = (
                ~F.col("is_retry")
                | (F.col("retry_at") <= F.lit(wave_now))
                | F.lit(fresh_empty)
            )
            cand = frontier.filter(ripe)
            if job.retry_policy == RetryPolicy.NO:
                cand = cand.filter(~F.col("is_retry"))
                compl = F.col("is_retry")
            else:
                compl = (
                    F.col("is_retry")
                    & (F.col("retry_at") > F.lit(wave_now))
                    & ~F.lit(fresh_empty)
                )
            if has_retries:
                deferred.append(frontier.filter(compl))

            if budgets is not None or default_bind:
                # politeness / binding budget: ONE materialized window
                # frame yields both the wave (__keep) and its deferred
                # complement; only rows of hosts carrying a budget row are
                # windowed (budget_keep_flags).
                flagged = budget_keep_flags(
                    cand,
                    policy_order(job.retry_policy),
                    budgets,
                    job.per_host_budget,
                    default_can_bind=default_bind,
                )
                obs_wave = Observation(f"wave_{iteration}")
                flagged = flagged.observe(
                    obs_wave, F.count_if(F.col("__keep")).alias("n")
                )
                flagged = io.materialize(flagged, "wave", iteration)
                n_sched = int(obs_wave.get["n"])
                wave = flagged.filter(F.col("__keep")).drop("__keep")
                deferred.append(
                    flagged.filter(~F.col("__keep")).drop("__keep")
                )
            elif has_retries:
                # retries pending: the wave is a real subset — materialize
                # to pin it and observe its size (old slow path, minus the
                # anti-join: the complement is the filter above).
                obs_wave = Observation(f"wave_{iteration}")
                cand = cand.observe(obs_wave, F.count(F.lit(1)).alias("n"))
                wave = io.materialize(cand, "wave", iteration)
                n_sched = int(obs_wave.get["n"])
            else:
                # FAST PATH (no budgets can bind, no retries, no wave cap):
                # every frontier row dispatches — the wave IS the already-
                # checkpointed frontier; zero extra jobs, and the wave size
                # is the frontier count observed last wave.
                wave = cand
                n_sched = frontier_rows
            # scale-mode dispatch_rank: monotonically_increasing_id over a
            # checkpointed frame (directly, or one projection above it) is
            # deterministic — the fetch materialize pins the values.
            wave = wave.withColumn(
                "dispatch_rank", F.monotonically_increasing_id()
            )
            if bucketed_fetch:
                if frontier_buckets is not None:
                    bkts = frontier_buckets
                else:
                    # resume before any observation: one bounded agg
                    # (≤ B ints), once
                    bkts = list(
                        wave.agg(_bucket_metric()).first()["buckets"]
                    )

        if n_sched == 0:
            break  # nothing dispatchable: job_counter == 0 (src/workload.rs:178)
        waves_run += 1

        gated = robots_gate(wave, robots, job.robot, job.use_robots)

        # ---- fetch (corpus join) + fault injection + extraction ----------
        def shape(joined: DataFrame) -> DataFrame:
            """fault injection + status + fused extraction over a wave⋈corpus
            frame (E1-E4 + P1/P2/P4)."""
            attempt = F.col("retry_count") + 1
            if faults is not None:
                joined = joined.join(
                    F.broadcast(faults),
                    (joined["url"] == faults["__furl"])
                    & (attempt == faults["__fattempt"]),
                    "left",
                ).drop("__furl", "__fattempt")
            else:
                joined = joined.withColumn("__fault", F.lit(None).cast("string"))
            joined = joined.withColumn(
                "status",
                F.when(F.col("__fault").isNotNull(), F.col("__fault")).otherwise(
                    F.when(F.col("html").isNotNull(), F.lit("ok")).otherwise(
                        F.lit("error")
                    )
                ),
            )
            # fused P1+P2+P4: one Arrow stage → absolutized links + text
            joined = joined.withColumn(
                "__page",
                F.when(F.col("status") == "ok", extract_page_udf("url", "html")),
            )
            extra = []
            if check_data_fn is not None:
                joined = joined.withColumn(
                    "check_data",
                    F.when(F.col("status") == "ok", check_data_fn()),
                )
                extra = ["check_data"]
            return joined.select(
                "url",
                "ukey",
                "url_hash",
                "host",
                "depth",
                "seq",
                "is_retry",
                "retry_count",
                "retry_at",
                "dispatch_rank",
                "status",
                F.col("__page.links").alias("out_links"),
                F.col("__page.text").alias("text"),
                *extra,
            )

        def latest_capture(joined: DataFrame) -> DataFrame:
            """Revisit semantics (opt-in, ``job.dedup_captures``): a WARC
            corpus may legally hold several captures of one URL; the
            fetch must return ONE page per frontier URL — the latest
            capture wins, ties broken by html hash for determinism.
            Wave-sized window only (never a corpus-side shuffle); the
            join's url-keyed exchange is reused by the window's
            partitionBy(url). Default OFF: the parquet corpus contract has
            unique urls."""
            if not job.dedup_captures:
                return joined
            w = Window.partitionBy("url").orderBy(
                F.desc_nulls_last("warc_ts"), F.desc(F.xxhash64(F.col("html")))
            )
            return (
                joined.withColumn("__cap_rn", F.row_number().over(w))
                .filter(F.col("__cap_rn") == 1)
                .drop("__cap_rn")
            )

        side = fetch_side
        if prune_buckets:
            # bucket set observed on the wave/frontier materialize
            # (pre-gate superset of gated's buckets: still-correct
            # pruning, no extra job)
            gated = gated.withColumn(
                "bucket", bucket_expr(F.col("url"), corpus_buckets)
            )
            side = fetch_side.filter(F.col("bucket").isin(bkts))
        joined = latest_capture(gated.join(side, on=fetch_keys, how="left"))
        shaped, get_counts = _observe_status(shape(joined), iteration)
        fetched = io.materialize(shaped, "wave_fetched", iteration)
        ok = F.col("status") == "ok"

        # ---- stats: observed on the fetch materialize, no extra job ------
        c = get_counts()
        n_wave = c["n"]  # may be 0: whole wave robots-skipped
        n_ok = c["ok"]
        n_timeout = c["timeout"]
        n_error = c["error"]

        stats.count_visited += n_wave
        stats.count_collected += n_ok
        if job.retry_policy == RetryPolicy.NO:
            # timeouts are ordinary terminal errors under policy No
            stats.count_errors += n_error + n_timeout
        else:
            stats.count_errors += n_error
            stats.count_retries += n_timeout
        collected += n_ok

        # per-(iteration, partition, host, status) lineage metrics — the
        # partition_id records WHICH executor partition of the fetched wave
        # produced each count (north_rule per-partition lineage); derived
        # from the checkpointed wave; lazy in memory mode (only read at
        # loop end), written in durable mode
        io.append(
            fetched.groupBy(
                F.spark_partition_id().alias("partition_id"), "host", "status"
            )
            .agg(F.count("*").alias("n"))
            .select(
                F.lit(iteration).alias("iteration"),
                "partition_id",
                "host",
                "status",
                "n",
            ),
            "metrics",
            iteration,
            eager=False,
        )

        # ---- results (collection order preserved via dispatch_rank) ------
        results_wave = fetched.filter(ok).select(
            F.lit(iteration).alias("iteration"),
            F.col("dispatch_rank").cast("long"),
            "seq",
            "url",
            "depth",
            (data_expr if data_expr is not None else F.col("text")).alias("data"),
        )
        io.append(results_wave, "results", iteration, eager=False)

        # ---- expand: links → frontier candidates (P1,P4,F5,D3,D1,F6) -----
        links = fetched.filter(ok & (F.size("out_links") > 0)).select(
            F.col("dispatch_rank").alias("parent_rank"),
            F.col("depth").alias("parent_depth"),
            F.posexplode("out_links").alias("pos", "link"),  # already absolute
        )
        links = apply_link_filters(links, job.filters, url_col="link")
        links = links.select(
            F.col("link").alias("url"),
            _ukey(F.col("link"), job.url_key).alias("ukey"),
            "parent_rank",
            "parent_depth",
            "pos",
        ).withColumn("url_hash", url_hash_col(F.col("ukey")))
        links = dedup_within_batch(links, [F.asc("parent_rank"), F.asc("pos")])
        if use_bloom:
            # bloom pre-filter (north_rule sidecar): candidates the bank
            # clears as definitely-new skip the exact anti-join shuffle
            # against the covered seen mass; they are only exact-checked
            # against the small not-yet-folded delta tail. The flag is
            # computed ONCE over a materialized frame — filtering an
            # unmaterialized pipeline on probe/~probe would run the whole
            # explode/absolutize/dedup chain (and the probe UDF) twice.
            if bloom_probe_mode == "copartition":
                # 10^10 path: cogroup links with bank rows on pid — the
                # bank never touches the driver (operators/bloom.py)
                flagged = io.materialize(
                    bloom_flag_copartitioned(
                        links, bloom_df, n_partitions=job.bloom_partitions
                    ),
                    "links_flagged",
                    iteration,
                )
            else:
                flagged = io.materialize(
                    links.withColumn(
                        "__maybe", bloom_probe_fn(F.col("url_hash"))
                    ),
                    "links_flagged",
                    iteration,
                )
            checked = flagged.filter(F.col("__maybe")).drop("__maybe")
            checked = checked.join(seen.select(*SEEN_COLS), on=SEEN_COLS, how="left_anti")
            fresh = flagged.filter(~F.col("__maybe")).drop("__maybe")
            for recent in bloom_pending:  # uncovered tail: ≤ fold_every frames
                fresh = fresh.join(
                    recent.select(*SEEN_COLS), on=SEEN_COLS, how="left_anti"
                )
            new_links = checked.unionByName(fresh)
        else:
            new_links = anti_join_seen(links, seen)
        # materialize once: the seen delta, the robots gate and the frontier
        # union all branch from here — without this the explode/absolutize/
        # anti-join pipeline would run three times
        new_links = io.materialize(new_links, "new_links", iteration)

        if not parity_seq:
            # scale-mode seq: unique + monotone ids straight from
            # monotonically_increasing_id over the checkpointed frame
            # (deterministic partitioning ⇒ stable across jobs). seq needs
            # monotone+unique, never dense — holes are harmless. The old
            # dense form paid one groupBy+collect job per wave to compute
            # per-partition offsets; sparse ids instead advance seq_counter
            # by ≤ nparts·2^33 ≈ 2^38 per wave, which overflows int64 only
            # after ~2^24 waves — six orders of magnitude past
            # max_iterations (guarded below at the seq_counter update).
            new_links = new_links.withColumn(
                "__seq0", (F.monotonically_increasing_id() + 1).cast("long")
            )

        # all newly-discovered links enter the seen set at enqueue time
        # (D1, src/workload.rs:202-211) — even those robots later rejects
        seen_new = new_links.select(*SEEN_COLS)
        admitted = robots_gate(
            new_links.withColumn("host", host_expr(F.col("url"))),
            robots,
            job.robot,
            job.use_robots,
        )

        # seq: monotone enqueue counter continuing the reference's append
        # order (parent completion order, then in-page position)
        if parity_seq:
            admitted = admitted.withColumn(
                "__rn",
                F.row_number().over(Window.orderBy(F.asc("parent_rank"), F.asc("pos"))),
            )
        else:
            # scale path: order within a wave is not observable (any
            # parallel crawl interleaves); __seq0 was assigned densely on
            # new_links above, no single-partition sort
            admitted = admitted.withColumn("__rn", F.col("__seq0")).drop("__seq0")
        enqueue = admitted.select(
            "url",
            "ukey",
            "url_hash",
            "host",
            (F.col("parent_depth") + 1).alias("depth"),
            (F.col("__rn") + F.lit(seq_counter)).alias("seq"),
            F.lit(False).alias("is_retry"),
            F.lit(0).alias("retry_count"),
            F.lit(0.0).alias("retry_at"),
        )

        # ---- retries (E2, O3/O4) ------------------------------------------
        if job.retry_policy != RetryPolicy.NO:
            timeouts = fetched.filter(F.col("status") == "timeout")
            # keep_retry: count += 1; count >= budget ⇒ terminal (D2)
            requeue = timeouts.filter(F.col("retry_count") + 1 < F.lit(job.retry_count)).select(
                "url",
                "ukey",
                "url_hash",
                "host",
                "depth",
                "seq",
                F.lit(True).alias("is_retry"),
                (F.col("retry_count") + 1).alias("retry_count"),
                # wave clock: ripens retry_threshold waves after requeue;
                # wall clock: the requeue stamps real time (the reference's
                # ready_at = inserted_at + threshold, src/retry.rs:31-37)
                (
                    F.lit(float(iteration + 1) + job.retry_threshold)
                    if job.retry_clock == "wave"
                    else F.lit(float(clock()) + job.retry_threshold)
                ).alias("retry_at"),
            )
        else:
            requeue = None

        # ---- commit the wave ----------------------------------------------
        # rows staying in the frontier: the parity/top-k path computes the
        # complement by anti-join (a limit has no filter complement); every
        # scale-mode path expressed it as filters in `deferred` above —
        # frontier ukeys are unique (dup ukeys never re-enter: they are in
        # seen), so filter-complement ≡ the old frontier ∖ wave anti-join.
        if use_anti_remaining:
            new_frontier = frontier.join(
                wave.select(*SEEN_COLS), on=SEEN_COLS, how="left_anti"
            ).unionByName(enqueue)
        else:
            new_frontier = enqueue
            for part in deferred:
                new_frontier = new_frontier.unionByName(part)
        if requeue is not None:
            new_frontier = new_frontier.unionByName(requeue)
        if not use_anti_remaining and (deferred or requeue is not None):
            # a union concatenates its inputs' partitions, and deferred
            # parts are filters over the PREVIOUS frontier checkpoint — left
            # unchecked the frontier's partition count grows by ~P per wave
            # and every downstream Arrow stage pays per-task Python setup
            # (measured: politeness fetch 2.2 s → 7 s across 17 waves).
            # coalesce is shuffle-free and bounds it at the session
            # parallelism; the old anti-join path got the same bound from
            # its exchange, at shuffle price.
            new_frontier = new_frontier.coalesce(
                max(spark.sparkContext.defaultParallelism, 1)
            )

        # seen-delta compaction: the anti-join otherwise scans one delta per
        # past wave — O(waves²) over a long crawl and a linearly growing
        # plan. Every K waves the union is rewritten as ONE consolidated
        # part; earlier parts are dropped only after the state commit
        # (crash in between ⇒ duplicate seen rows, which never change an
        # anti-join/bloom-build result and are swept by the next compaction).
        compact_now = (
            job.seen_compact_every > 0
            and (iteration + 1) % job.seen_compact_every == 0
        )
        seen_part = None
        if compact_now:
            full_seen = seen.unionByName(seen_new).dropDuplicates(SEEN_COLS)
            io.append(full_seen, "seen", iteration)
        else:
            # lazy in memory mode: seen_new is a pure projection of the
            # already-checkpointed new_links frame, so re-reading it later
            # costs a column prune over cached blocks, not a job; durable
            # backends write regardless (resume safety)
            seen_part = io.append(seen_new, "seen", iteration, eager=False)
        if use_bloom:
            # the delta joins the uncovered tail now; every fold_every
            # waves the accumulated tail is folded into the bank with ONE
            # build+merge (never a rebuild from the full seen set) — the
            # two applyInPandas stages amortize across waves. The tail
            # reads the appended seen parts: a durable store keeps only
            # the two newest new_links snapshots. A compaction wave drops
            # those parts, so it folds first. Its own part is all of seen,
            # so its new_links delta stands in, as for a TableIO whose
            # append returns no part.
            bloom_pending.append(seen_new if seen_part is None else seen_part)
            if compact_now or len(bloom_pending) >= max(job.bloom_fold_every, 1):
                tail = bloom_pending[0]
                for f in bloom_pending[1:]:
                    tail = tail.unionByName(f)
                # fused fold: the tail's keys OR straight into the bank in
                # ONE cogrouped Arrow stage (fold_bloom) instead of a
                # build + merge pair — same bits, half the Arrow aggs
                bloom_df = io.materialize(
                    fold_bloom(
                        bloom_df,
                        tail,
                        n_partitions=job.bloom_partitions,
                        expected_per_partition=job.bloom_expected_per_partition,
                        fp_rate=job.bloom_fp_rate,
                    ),
                    "bloom",
                    iteration,
                )
                bloom_pending = []
                if bloom_probe_mode != "copartition":
                    bloom_probe_fn = bloom_probe(spark, bloom_df)
        iteration += 1
        # fresh/seq bookkeeping observed on the frontier materialize itself
        obs_fr = Observation(f"frontier_{iteration}")
        fr_metrics = [
            F.count_if(~F.col("is_retry")).alias("fresh"),
            F.max("seq").alias("max_seq"),
            F.count(F.lit(1)).alias("total"),
        ]
        if bucketed_fetch:
            fr_metrics.append(_bucket_metric())
        new_frontier = new_frontier.observe(obs_fr, *fr_metrics)
        frontier = io.materialize(new_frontier, "frontier", iteration)
        vals = obs_fr.get
        fresh_count = int(vals["fresh"])
        frontier_rows = int(vals["total"])
        if bucketed_fetch:
            frontier_buckets = list(vals["buckets"])
        if vals["max_seq"] is not None:
            seq_counter = max(seq_counter, int(vals["max_seq"]))
            if seq_counter > (1 << 62):
                raise RuntimeError(
                    "seq counter approaching int64 overflow "
                    f"({seq_counter}); the sparse per-wave seq ids assume "
                    "far fewer waves than this crawl has run"
                )
        io.save_state(
            {
                "iteration": iteration,
                "seq_counter": seq_counter,
                "collected": collected,
                "fresh_count": fresh_count,
                "frontier_rows": frontier_rows,
                "stats": vars(stats),
            }
        )
        if compact_now:
            io.drop_appends_before("seen", iteration - 1)
        seen = io.read_appended(spark, "seen")

    if cached_corpus is not None:
        cached_corpus.unpersist(blocking=False)
    results = io.read_appended(spark, "results")
    metrics = io.read_appended(spark, "metrics")
    return CrawlResult(
        results if results is not None else _empty_results(spark),
        metrics if metrics is not None else _empty_metrics(spark),
        stats,
        seen,
        frontier,
        iteration,
    )
