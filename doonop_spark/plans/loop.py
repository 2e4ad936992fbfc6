"""run_crawl — the iterative wave driver (SURVEY.md §3; reference loop at
``src/workload.rs:79-200``).

One wave = one Catalyst-planned batch, mirroring one dispatch-collect
cycle of the reference. ``run_crawl`` prepares the per-crawl inputs once
and runs four stages per wave (methods of ``_Crawl``) over one
:class:`WaveState`, the crawl's scalar checkpoint:

1. **schedule_wave** — retry-policy priority, LIFO seq order, ripeness,
   per-host politeness budget, global engine cap (operators/schedule.py:
   ``select_wave`` when ``engines`` bounds the wave, else ``scale_wave``).
   Pure JVM.
2. **fetch_wave** — left-join the wave, whose rows all passed the robots
   gate on entering the frontier, against the fetch side chosen once per
   crawl (sources/corpus.py ``choose_fetch_side``: cached, bucket-pruned or
   raw; S4: the corpus replaces the live WebDriver fetch). A URL missing
   from it is a terminal fetch error (E3). An optional ``fault_schedule``
   ``(url, attempt, fault)`` injects ``timeout`` (retryable, E1/E2) and
   ``error`` faults. Out-links and byte-identical text come from one Arrow
   stage in the join's stage.
   Statistics, metrics and results are taken here.
3. **expand_links** — posexplode, filter (F5), seen key, within-batch dedup
   (D3), anti-join the seen table (D1), optionally behind the bloom
   sidecar (operators/bloom.py ``SeenBloom``).
4. **commit_wave** — robots gate (F6/F7: disallowed links still enter the
   seen set, like the reference's pop-then-skip), ``seq``, retries, then
   frontier, seen, bloom delta and ``WaveState`` through TableIO ⇒ exact
   resume at wave granularity.

The robots gate runs once per URL, as it enters the frontier: ``run_crawl``
gates the seeds and ``commit_wave`` the new links, so no wave spends a slot
on a disallowed URL — the reference's check at dispatch
(``src/workload.rs:100-109``).

Bounded and scale mode differ only in wave selection and in ``seq`` /
``dispatch_rank``: bounded mode ranks exactly (``row_number``), scale mode
takes sparse ``monotonically_increasing_id`` values.

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

import time
from dataclasses import asdict, dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from doonop_spark.functions.canonical import (
    host_expr,
    surt_key_udf,
    url_hash_col,
)
from doonop_spark.functions.extract import extract_page_udf
from doonop_spark.operators.bloom import SeenBloom
from doonop_spark.operators.dedup import SEEN_COLS, anti_join_seen, dedup_within_batch
from doonop_spark.operators.filters import apply_link_filters, clean_seeds
from doonop_spark.operators.robots import compile_robots, robots_gate
from doonop_spark.operators.schedule import (
    policy_order,
    politeness_budget,
    scale_wave,
    select_wave,
)
from doonop_spark.plans.job import CrawlJob, RetryPolicy
from doonop_spark.sources.corpus import (
    FetchSide,
    bucket_expr,
    choose_fetch_side,
    latest_capture,
)
from doonop_spark.sources.seeds import seed_frontier, seed_frontier_distributed
from doonop_spark.sources.tables import MemoryTableIO, TableIO

__all__ = ["Statistics", "CrawlResult", "WaveState", "run_crawl"]

RESULTS_SCHEMA = (
    "iteration int, dispatch_rank long, seq long, url string, depth int, data string"
)


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
    # the physical path chosen: {"fetch_side": "cached"|"bucketed"|"raw"}
    extra: dict = field(default_factory=dict)


@dataclass
class WaveState:
    """The crawl's scalar checkpoint, saved after the seed frontier and
    every wave's commit; :meth:`load` restores it on resume."""

    iteration: int
    seq_counter: int
    collected: int
    fresh_count: int  # frontier rows that are not retries
    frontier_rows: int
    frontier_buckets: list[int] | None  # bucketed corpus only
    stats: Statistics

    def save(self, io: TableIO) -> None:
        io.save_state(asdict(self))

    @classmethod
    def load(cls, io: TableIO) -> WaveState | None:
        state = io.load_state()
        if state is None:
            return None
        return cls(**{**state, "stats": Statistics(**state["stats"])})


def _empty_results(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], RESULTS_SCHEMA)


def _empty_metrics(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [], "iteration int, partition_id int, host string, status string, n long"
    )


def _bucket_set(n_buckets: int) -> Column:
    return F.collect_set(bucket_expr(F.col("url"), n_buckets)).alias("buckets")


def _commit_frontier(
    io: TableIO, frontier: DataFrame, st: WaveState, n_buckets: int
) -> DataFrame:
    """Materialize ``frontier`` as the checkpoint of ``st.iteration`` and
    update ``st`` from what that same job observes: fresh and total rows,
    the largest ``seq`` and, over a bucketed corpus, the bucket set — a
    superset of any next wave's, so pruning with it is sound (guide §2.4:
    no dedicated bookkeeping jobs). Used for the seeds and every wave."""
    obs = Observation(f"frontier_{st.iteration}")
    metrics = [
        F.count_if(~F.col("is_retry")).alias("fresh"),
        F.max("seq").alias("max_seq"),
        F.count(F.lit(1)).alias("total"),
    ]
    if n_buckets:
        metrics.append(_bucket_set(n_buckets))
    out = io.materialize(frontier.observe(obs, *metrics), "frontier", st.iteration)
    vals = obs.get
    st.fresh_count = int(vals["fresh"])
    st.frontier_rows = int(vals["total"])
    if n_buckets:
        st.frontier_buckets = list(vals["buckets"])
    if vals["max_seq"] is not None:
        st.seq_counter = max(st.seq_counter, int(vals["max_seq"]))
        if st.seq_counter > (1 << 62):
            raise RuntimeError(
                "seq counter approaching int64 overflow "
                f"({st.seq_counter}); the sparse per-wave seq ids assume "
                "far fewer waves than this crawl has run"
            )
    return out


def _check_program(job: CrawlJob) -> tuple[Column | None, Column]:
    """The check-program surface (§2.10) → ``(check, data)``: ``check`` is
    evaluated over ``(url, html)`` in the fetch stage, for programs that
    need the raw page (Side programs, P3: the stored RESULT, null included;
    JVM title regex / html decode). ``data`` is the collected value."""
    if job.check == "side":
        from doonop_spark.functions.side import side_data_udf

        check = side_data_udf(job.side_program)(F.col("url"), F.col("html"))
    elif job.check == "title":
        check = F.regexp_extract(
            F.decode(F.col("html"), "UTF-8"),
            r"(?i)<title[^>]*>([\s\S]*?)</title\s*>",
            1,
        )
    elif job.check == "html":
        check = F.decode(F.col("html"), "UTF-8")
    else:
        return None, F.col("url" if job.check == "url" else "text")
    return check, F.col("check_data")


def _shape(joined: DataFrame, faults: DataFrame | None, check: Column | None) -> DataFrame:
    """Fault injection + status + fused extraction over a wave⋈corpus frame
    (E1-E4 + P1/P2/P4)."""
    attempt = F.col("retry_count") + 1
    if faults is not None:
        joined = joined.join(
            F.broadcast(faults),
            (joined["url"] == faults["__furl"]) & (attempt == faults["__fattempt"]),
            "left",
        ).drop("__furl", "__fattempt")
    else:
        joined = joined.withColumn("__fault", F.lit(None).cast("string"))
    joined = joined.withColumn(
        "status",
        F.when(F.col("__fault").isNotNull(), F.col("__fault")).otherwise(
            F.when(F.col("html").isNotNull(), F.lit("ok")).otherwise(F.lit("error"))
        ),
    )
    # fused P1+P2+P4: one Arrow stage → absolutized links + text
    joined = joined.withColumn(
        "__page",
        F.when(F.col("status") == "ok", extract_page_udf("url", "html")),
    )
    extra = []
    if check is not None:
        joined = joined.withColumn("check_data", F.when(F.col("status") == "ok", check))
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


@dataclass
class _Crawl:
    """The per-crawl inputs, prepared once, and the four wave stages."""

    spark: SparkSession
    job: CrawlJob
    io: TableIO
    side: FetchSide
    robots: DataFrame | None
    budgets: DataFrame | None  # per-host Crawl-delay budgets
    faults: DataFrame | None
    bloom: SeenBloom | None
    check: Column | None
    data: Column
    clock: Callable[[], float]

    def _wave_materialize(
        self, wave: DataFrame, n: Column, iteration: int, with_buckets: bool
    ) -> tuple[DataFrame, int, list[int] | None]:
        obs = Observation(f"wave_{iteration}")
        metrics = [n.alias("n")]
        if with_buckets:
            metrics.append(_bucket_set(self.side.n_buckets))
        wave = self.io.materialize(wave.observe(obs, *metrics), "wave", iteration)
        vals = obs.get
        return wave, int(vals["n"]), list(vals["buckets"]) if with_buckets else None

    def schedule_wave(self, frontier: DataFrame, st: WaveState):
        """``(wave, deferred, n, buckets)``. ``deferred`` (scale mode) holds
        the rows staying in the frontier as filters; None in bounded mode,
        whose complement is an anti-join (a top-k has no filter
        complement). ``buckets`` is a superset of the wave's bucket set."""
        job = self.job
        # O3 ripeness clock: logical wave index (deterministic) or real
        # wall-clock seconds (reference parity, src/retry.rs:38-46)
        now = float(st.iteration) if job.retry_clock == "wave" else float(self.clock())
        fresh_empty = st.fresh_count == 0
        if job.engines is not None:
            wave = select_wave(
                frontier,
                job.retry_policy,
                job.engines,
                now=now,
                fresh_empty=fresh_empty,
                per_host_budget=self.budgets,
                default_budget=job.per_host_budget,
            )
            # dispatch_rank fixes the deterministic "completion order"
            # within the wave: the exact policy order, over at most
            # `engines` rows
            wave = wave.withColumn(
                "dispatch_rank",
                F.row_number().over(Window.orderBy(*policy_order(job.retry_policy))),
            )
            wave, n, buckets = self._wave_materialize(
                wave, F.count(F.lit(1)), st.iteration, bool(self.side.n_buckets)
            )
            return wave, None, n, buckets
        wave, deferred, n = scale_wave(
            frontier,
            job.retry_policy,
            now,
            fresh_empty,
            # retries exist in the frontier iff some rows are is_retry
            has_retries=st.fresh_count != st.frontier_rows,
            per_host_budget=self.budgets,
            default_budget=job.per_host_budget,
            # the scalar default budget provably cannot bind when the
            # WHOLE frontier holds no more rows than the budget
            default_can_bind=job.per_host_budget is not None
            and st.frontier_rows > job.per_host_budget,
            materialize=lambda df: self._wave_materialize(
                df, F.count_if(F.col("__keep")), st.iteration, False
            )[:2],
        )
        # scale-mode dispatch_rank: monotonically_increasing_id over a
        # checkpointed frame (directly, or one projection above it) is
        # deterministic — the fetch materialize pins the values; order
        # within a wave is not observable in a parallel crawl
        wave = wave.withColumn("dispatch_rank", F.monotonically_increasing_id())
        return wave, deferred, st.frontier_rows if n is None else n, st.frontier_buckets

    def fetch_wave(self, wave: DataFrame, buckets: list[int] | None, st: WaveState) -> DataFrame:
        """Fetch + faults + extraction, materialized as ``wave_fetched``;
        Statistics are observed on that job, then metrics and results are
        appended from it."""
        job, io, it = self.job, self.io, st.iteration
        joined = self.side.join(wave, buckets)
        if job.dedup_captures:
            joined = latest_capture(joined)
        # per-status counts ride the fetch materialize (K2 stats without a
        # dedicated groupBy job)
        obs = Observation(f"fetched_{it}")
        status = F.col("status")
        fetched = io.materialize(
            _shape(joined, self.faults, self.check).observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.count_if(status == "ok").alias("ok"),
                F.count_if(status == "timeout").alias("timeout"),
                F.count_if(status == "error").alias("error"),
            ),
            "wave_fetched",
            it,
        )
        c = {k: int(v) for k, v in obs.get.items()}
        st.stats.count_visited += c["n"]
        st.stats.count_collected += c["ok"]
        if job.retry_policy == RetryPolicy.NO:
            # timeouts are ordinary terminal errors under policy No
            st.stats.count_errors += c["error"] + c["timeout"]
        else:
            st.stats.count_errors += c["error"]
            st.stats.count_retries += c["timeout"]
        st.collected += c["ok"]

        # per-(iteration, partition, host, status) lineage metrics — the
        # partition_id records WHICH executor partition of the fetched wave
        # produced each count (north_rule per-partition lineage); lazy in
        # memory mode (only read at loop end), written in durable mode
        io.append(
            fetched.groupBy(F.spark_partition_id().alias("partition_id"), "host", "status")
            .agg(F.count("*").alias("n"))
            .select(F.lit(it).alias("iteration"), "partition_id", "host", "status", "n"),
            "metrics",
            it,
            eager=False,
        )
        # results (collection order preserved via dispatch_rank)
        io.append(
            fetched.filter(F.col("status") == "ok").select(
                F.lit(it).alias("iteration"),
                F.col("dispatch_rank").cast("long"),
                "seq",
                "url",
                "depth",
                self.data.alias("data"),
            ),
            "results",
            it,
            eager=False,
        )
        return fetched

    def expand_links(self, fetched: DataFrame, seen: DataFrame, iteration: int) -> DataFrame:
        """Links → new frontier candidates (P1, P4, F5, D3, D1), materialized
        once as ``new_links``: the seen delta, the robots gate and the
        frontier union all branch from it."""
        job = self.job
        ok = F.col("status") == "ok"
        links = fetched.filter(ok & (F.size("out_links") > 0)).select(
            F.col("dispatch_rank").alias("parent_rank"),
            F.col("depth").alias("parent_depth"),
            F.posexplode("out_links").alias("pos", "link"),  # already absolute
        )
        links = apply_link_filters(links, job.filters, url_col="link")
        links = links.select(
            F.col("link").alias("url"),
            (surt_key_udf(F.col("link")) if job.url_key == "surt" else F.col("link")).alias("ukey"),
            "parent_rank",
            "parent_depth",
            "pos",
        ).withColumn("url_hash", url_hash_col(F.col("ukey")))
        links = dedup_within_batch(links, [F.asc("parent_rank"), F.asc("pos")])
        if self.bloom is not None:
            new_links = self.bloom.new_links(links, seen, iteration)
        else:
            new_links = anti_join_seen(links, seen)
        return self.io.materialize(new_links, "new_links", iteration)

    def commit_wave(
        self,
        st: WaveState,
        frontier: DataFrame,
        wave: DataFrame,
        deferred: list[DataFrame] | None,
        fetched: DataFrame,
        new_links: DataFrame,
        seen: DataFrame,
    ) -> tuple[DataFrame, DataFrame]:
        """Enqueue the admitted links and requeue the timeouts, commit the
        frontier, seen and bloom, save ``st``. Returns (frontier, seen)."""
        job, io, it = self.job, self.io, st.iteration
        bounded = job.engines is not None
        # seq: monotone enqueue counter continuing the reference's append
        # order (parent completion order, then in-page position)
        if bounded:
            rank = F.row_number().over(Window.orderBy(F.asc("parent_rank"), F.asc("pos")))
        else:
            # scale mode: unique + monotone ids straight from
            # monotonically_increasing_id over the checkpointed frame
            # (deterministic partitioning ⇒ stable across jobs). seq needs
            # monotone+unique, never dense — holes are harmless. Sparse ids
            # advance seq_counter by ≤ nparts·2^33 ≈ 2^38 per wave, which
            # overflows int64 only after ~2^24 waves (guarded in
            # _commit_frontier).
            new_links = new_links.withColumn(
                "__seq0", (F.monotonically_increasing_id() + 1).cast("long")
            )
            rank = F.col("__seq0")

        # all newly-discovered links enter the seen set at enqueue time
        # (D1, src/workload.rs:202-211) — even those robots later rejects
        seen_new = new_links.select(*SEEN_COLS)
        admitted = robots_gate(new_links.withColumn("host", host_expr(F.col("url"))), self.robots)
        enqueue = admitted.withColumn("__rn", rank).select(
            "url",
            "ukey",
            "url_hash",
            "host",
            (F.col("parent_depth") + 1).alias("depth"),
            (F.col("__rn") + F.lit(st.seq_counter)).alias("seq"),
            F.lit(False).alias("is_retry"),
            F.lit(0).alias("retry_count"),
            F.lit(0.0).alias("retry_at"),
        )

        # frontier = rows staying + enqueued + requeued. Frontier ukeys are
        # unique (dup ukeys never re-enter: they are in seen), so scale
        # mode's filter complement ≡ frontier ∖ wave.
        if bounded:
            parts = [frontier.join(wave.select(*SEEN_COLS), on=SEEN_COLS, how="left_anti"), enqueue]
        else:
            parts = [enqueue, *deferred]
        if job.retry_policy != RetryPolicy.NO:
            # retries (E2, O3/O4) — keep_retry: count += 1; count >= budget
            # ⇒ terminal (D2). Wave clock: ripens retry_threshold waves
            # after requeue; wall clock: the requeue stamps real time (the
            # reference's ready_at = inserted_at + threshold,
            # src/retry.rs:31-37)
            retry_at = float(it + 1) if job.retry_clock == "wave" else float(self.clock())
            parts.append(
                fetched.filter(F.col("status") == "timeout")
                .filter(F.col("retry_count") + 1 < F.lit(job.retry_count))
                .select(
                    "url",
                    "ukey",
                    "url_hash",
                    "host",
                    "depth",
                    "seq",
                    F.lit(True).alias("is_retry"),
                    (F.col("retry_count") + 1).alias("retry_count"),
                    F.lit(retry_at + job.retry_threshold).alias("retry_at"),
                )
            )
        new_frontier = reduce(DataFrame.unionByName, parts)
        if not bounded and len(parts) > 1:
            # a union concatenates its inputs' partitions, and deferred
            # parts are filters over the PREVIOUS frontier checkpoint — left
            # unchecked the frontier's partition count grows by ~P per wave
            # and every downstream Arrow stage pays per-task Python setup
            # (measured: politeness fetch 2.2 s → 7 s across 17 waves).
            # coalesce is shuffle-free and bounds it at the session
            # parallelism.
            new_frontier = new_frontier.coalesce(max(self.spark.sparkContext.defaultParallelism, 1))

        # seen-delta compaction: the anti-join otherwise scans one delta per
        # past wave — O(waves²) over a long crawl and a linearly growing
        # plan. Every K waves the union is rewritten as ONE consolidated
        # part; earlier parts are dropped only after the state commit
        # (crash in between ⇒ duplicate seen rows, which never change an
        # anti-join/bloom-build result and are swept by the next compaction).
        compact_now = job.seen_compact_every > 0 and (it + 1) % job.seen_compact_every == 0
        part = None
        if compact_now:
            io.append(seen.unionByName(seen_new).dropDuplicates(SEEN_COLS), "seen", it)
        else:
            # lazy in memory mode: seen_new is a pure projection of the
            # already-checkpointed new_links frame, so re-reading it later
            # costs a column prune over cached blocks, not a job; durable
            # backends write regardless (resume safety)
            part = io.append(seen_new, "seen", it, eager=False)
        if self.bloom is not None:
            # the bloom's tail reads the appended seen part, as the store
            # holds it. A compaction wave drops those parts, so it folds
            # at once; its own part is all of seen, so its new_links delta
            # stands in, as for a TableIO whose append returns no part.
            self.bloom.add(seen_new if part is None else part, it, fold_now=compact_now)

        st.iteration += 1
        frontier = _commit_frontier(io, new_frontier, st, self.side.n_buckets)
        st.save(io)
        if compact_now:
            io.drop_appends_before("seen", st.iteration - 1)
        return frontier, io.read_appended(self.spark, "seen")


def run_crawl(
    spark: SparkSession,
    job: CrawlJob,
    corpus: DataFrame,
    robots: DataFrame | None = None,
    fault_schedule: DataFrame | None = None,
    seed_urls: DataFrame | None = None,
    io: TableIO | None = None,
    resume: bool = False,
    cancel=None,
    clock=None,
) -> CrawlResult:
    """Crawl ``corpus`` from ``job.seeds``; see module docstring.

    ``corpus`` is the page table every fetch joins. A layout written by
    ``write_bucketed_corpus`` and read by ``read_bucketed_corpus`` carries
    its bucket count, and each wave's fetch then scans only the wave's
    buckets. ``robots`` is the ``(host, robots_txt)`` table that
    ``job.use_robots`` needs. ``fault_schedule`` ``(url, attempt, fault)``
    injects fetch faults. ``seed_urls`` is an optional DataFrame with a
    ``url`` column of extra seeds (e.g. sitemap-expanded), cleaned and
    merged into the wave-0 frontier without reaching the driver; invalid
    URLs in it are dropped, as for discovered links.

    The collected ``data`` value follows ``job.check`` (the check-program
    surface, §2.10): 'text' = flagship byte-identical text extraction;
    'url' = the reference's default program (``return
    window.location.href`` ≡ the page URL); 'title' / 'html' / 'side' =
    the page-level programs.

    An empty seed list ends like any crawl whose frontier runs dry: zero
    ``Statistics``, no results, ``iterations == 0`` (reference
    src/workload.rs:81-83).

    ``cancel`` (threading.Event-like) is the ctrl-c analog (X3,
    src/main.rs:41-48): when set, the current wave drains and commits,
    then the loop stops — everything collected so far is returned and the
    checkpoint is resumable.

    ``clock`` (callable → seconds) is the wall-clock source for
    ``job.retry_clock == 'wall'`` ripeness (O3 parity mode); defaults to
    ``time.time``, injectable for deterministic tests.
    """
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
    # resolved before seeding, so the seed frontier observes its buckets
    side = choose_fetch_side(corpus, job.corpus_cache_max_bytes, job.dedup_captures)
    budgets = None
    if job.use_robots:
        # robots.txt is parsed ONCE per crawl (the reference's per-(domain,
        # robot) verifier cache, src/robots.rs:23-33): one Arrow pass
        # compiles it to Java regexes, checkpointed so the admission gate
        # and the Crawl-delay budgets stay in the JVM
        robots = compile_robots(robots, job.robot).localCheckpoint(eager=True)
        budgets = politeness_budget(robots, job.wave_seconds)
    else:
        robots = None

    # ---- init / resume -----------------------------------------------------
    st = WaveState.load(io) if resume else None
    if st is not None:
        frontier = io.load_table(spark, "frontier", st.iteration)
        # drop orphan appends from a wave that died before its state commit
        for t in ("seen", "results", "metrics"):
            io.prune_appends(t, st.iteration)
    else:
        st = WaveState(iteration=0, seq_counter=0, collected=0, fresh_count=0,
                       frontier_rows=0, frontier_buckets=None, stats=Statistics())
        cleaned = clean_seeds(job.seeds, job.filters)
        if seed_urls is not None:
            # distributed seeding (S6 at scale): sitemap-expanded seeds
            # stay a DataFrame end-to-end
            seeds = seed_frontier_distributed(
                spark, cleaned, seed_urls, job.url_key, job.filters
            )
        else:
            seeds = seed_frontier(spark, cleaned, job.url_key)
        # seeds pass the robots gate as they enter the frontier, like every
        # discovered link (F6: a disallowed URL never takes a wave slot)
        frontier = _commit_frontier(io, robots_gate(seeds, robots), st, side.n_buckets)
        if st.frontier_rows:
            # seeds hold seq 0..max_seq; links are numbered from max_seq + 2
            st.seq_counter += 1
        # the seen table is append-only (monotone, §2.9): store per-wave
        # DELTAS and anti-join against their union — rewriting the full
        # seen set every wave would be O(total²) over the crawl. Every
        # cleaned seed, gated or not, is the wave "-1" delta (enqueue-time
        # insert, src/workload.rs:205).
        io.append(seeds.select(*SEEN_COLS), "seen", -1)
        st.save(io)
    seen = io.read_appended(spark, "seen")

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
    bloom = None
    if job.bloom_partitions > 0:
        bloom = SeenBloom(
            io,
            seen,
            st.iteration,
            n_partitions=job.bloom_partitions,
            expected_per_partition=job.bloom_expected_per_partition,
            fold_every=job.bloom_fold_every,
        )
    check, data = _check_program(job)
    crawl = _Crawl(
        spark, job, io, side, robots, budgets, faults, bloom, check, data, clock or time.time
    )

    # ---- the loop (reference src/workload.rs:79-200) -----------------------
    waves_run = 0
    while st.iteration < job.max_iterations:
        if cancel is not None and cancel.is_set():
            break  # graceful shutdown: previous wave fully committed
        # O5: the limit gates *scheduling*, not landing — the first wave
        # always dispatches (the reference dispatches seeds before any
        # inc_limit), and overshoot is ≤ one wave, the analog of the
        # reference's ≤ in-flight-count overshoot (src/workload.rs:127-131)
        if job.limit is not None and waves_run > 0 and st.collected >= job.limit:
            break
        if st.frontier_rows == 0:
            break  # the committed frontier is empty: no wave to schedule
        wave, deferred, n, buckets = crawl.schedule_wave(frontier, st)
        if n == 0:
            # budgets or unripe retries held back every row: nothing
            # dispatchable, job_counter == 0 (src/workload.rs:178)
            break
        waves_run += 1
        fetched = crawl.fetch_wave(wave, buckets, st)
        new_links = crawl.expand_links(fetched, seen, st.iteration)
        frontier, seen = crawl.commit_wave(st, frontier, wave, deferred, fetched, new_links, seen)

    side.release()
    results = io.read_appended(spark, "results")
    metrics = io.read_appended(spark, "metrics")
    return CrawlResult(
        results if results is not None else _empty_results(spark),
        metrics if metrics is not None else _empty_metrics(spark),
        st.stats,
        seen,
        frontier,
        st.iteration,
        extra={"fetch_side": side.kind},
    )
