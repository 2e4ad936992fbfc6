"""Wave scheduling (SURVEY.md §2.6 O1-O6, §2.7 X1): LIFO frontier order,
retry-policy priority, retry ripeness, per-host politeness budgets,
hot-host salting.

The reference's scheduler pops one URL at a time from a stack
(``src/workload.rs:230``), at most N in flight (``:93-98``). Our wave model
selects the *set* the reference would dispatch before any result returns:
top-k of the frontier under the policy ordering. With k=1 the schedule is
byte-identical to the reference's single-engine order; with k=None the
per-host politeness budget (north_star extension) bounds the wave instead.

Ordering semantics ported:

- O1 LIFO: ``ORDER BY seq DESC`` — ``seq`` is the monotone enqueue counter.
- O2 policy: RetryFirst ⇒ ripe retries before fresh URLs; RetryLast ⇒
  fresh first (``src/workload.rs:228-240``).
- O3 ripeness: a retry is ripe when ``now - enqueued > threshold`` OR the
  fresh frontier is empty (forced drain, ``src/retry.rs:38-55``); ripest
  (earliest retry_at) first.
- O6 in-flight bound = wave size (``src/workload.rs:96``).

Everything here is JVM-side (window/sort/limit) — no Python in the
scheduling hot path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from doonop_spark.plans.job import RetryPolicy

__all__ = [
    "select_wave",
    "budget_keep_flags",
    "policy_order",
    "politeness_budget",
    "salt_for_skew",
    "resolve_politeness_impl",
    "indegree_priority",
]

_log = __import__("logging").getLogger(__name__)

# the default budget when none is configured: no host can reach it
_UNBOUNDED = 2**31 - 1


def _host_budget(default_budget: int | None):
    """A joined row's budget: its host's ``__budget`` row, else the default
    (0 is a real budget, only None is unbounded)."""
    return F.coalesce(
        F.col("__budget"),
        F.lit(_UNBOUNDED if default_budget is None else default_budget),
    )


def resolve_politeness_impl(
    impl: str, frontier_rows: int | None, threshold: int
) -> str:
    """Resolve ``politeness_impl='auto'`` to a concrete scheduler.

    A frontier of R rows bounds every per-host candidate count by R, so a
    frontier under ``threshold`` rows provably cannot hold the 10^7-row
    hot host that makes the single-window top-k serialize in one task —
    'window' (cheaper: one shuffle, one sort) is safe there. Past the
    threshold we switch to the two-phase 'window2' preemptively: the two
    variants are output-identical (e2e-asserted), so the switch can key on
    the cheap already-observed frontier count instead of an exact
    max-per-host statistic that would cost its own groupBy job per wave.
    Same measure-then-choose shape as ``bloom.resolve_probe_mode``.
    ``frontier_rows=None`` (unknown — e.g. resume from a pre-auto state
    file) keeps the conservative default 'window' for one wave, after
    which the count is observed again.
    """
    if impl != "auto":
        return impl
    if frontier_rows is not None and frontier_rows > threshold:
        _log.info(
            "politeness_impl auto: frontier_rows=%d > %d -> window2",
            frontier_rows, threshold,
        )
        return "window2"
    return "window"


def policy_order(policy: RetryPolicy):
    """Sort keys implementing O1-O3 for the given retry policy."""
    is_retry = F.col("is_retry")
    if policy == RetryPolicy.NO:
        # retries never exist under policy No — pure LIFO
        return [F.col("seq").desc()]
    # retry priority class: 0 dispatches first
    if policy == RetryPolicy.FIRST:
        prio = F.when(is_retry, 0).otherwise(1)
    else:  # RetryPolicy.LAST
        prio = F.when(is_retry, 1).otherwise(0)
    # within retries: ripest first (BTreeMap head, src/retry.rs:39-46);
    # within fresh: LIFO (src/workload.rs:230)
    return [
        prio.asc(),
        F.when(is_retry, F.col("retry_at")).otherwise(F.lit(0.0)).asc(),
        F.col("seq").desc(),
    ]


def _budget_window(cand: DataFrame, order, per_host_budget, default_budget) -> DataFrame:
    """Per-host top-k via window row_number — JVM-side, one shuffle by host."""
    w = Window.partitionBy("host").orderBy(*order)
    cand = cand.withColumn("__rn", F.row_number().over(w))
    if per_host_budget is not None:
        b = F.broadcast(
            per_host_budget.select(
                F.col("host").alias("__bhost"), F.col("budget").alias("__budget")
            )
        )
        cand = cand.join(b, cand["host"] == b["__bhost"], "left").drop("__bhost")
        budget = _host_budget(default_budget)
    else:
        budget = F.lit(default_budget)
    return cand.filter((F.col("__rn") <= budget) | F.col("host").isNull()).drop(
        "__rn", "__budget"
    )


def _budget_window_two_phase(
    cand: DataFrame, order, per_host_budget, default_budget, n_shards: int | None = None
) -> DataFrame:
    """Scale variant of :func:`_budget_window` for skewed frontiers.

    The single-window form puts ALL of a host's candidate rows into ONE
    task (``Window.partitionBy("host")``) — the one place in this engine
    where host skew genuinely serializes work at 100 TB: a hot host with
    10^7 pending rows means one task sorting 10^7 rows while every other
    core idles. (The fetch/extract stages are immune — their url-keyed
    shuffles balance by construction; measured in ``bench.py --skew``.)

    Two phases, exact same output: phase 1 takes the per-(host, salt)
    top-budget over ``n_shards`` hash shards — bounded parallel sorts of
    ~rows/S each; phase 2 takes the true per-host top-budget over the
    ≤ S·budget survivors. Correct because the global per-host top-k under
    a total order is contained in the union of per-shard top-ks (ours is
    total: priority, retry_at, seq — seq is unique)."""
    spark = cand.sparkSession
    shards = n_shards or max(spark.sparkContext.defaultParallelism, 1)
    if per_host_budget is not None:
        b = F.broadcast(
            per_host_budget.select(
                F.col("host").alias("__bhost"), F.col("budget").alias("__budget")
            )
        )
        cand = cand.join(b, cand["host"] == F.col("__bhost"), "left").drop("__bhost")
        budget = _host_budget(default_budget)
    else:
        budget = F.lit(default_budget)
    salt = F.pmod(F.col("url_hash"), F.lit(shards))
    w1 = Window.partitionBy(F.col("host"), salt).orderBy(*order)
    cand = (
        cand.withColumn("__rn1", F.row_number().over(w1))
        .filter((F.col("__rn1") <= budget) | F.col("host").isNull())
        .drop("__rn1")
    )
    w2 = Window.partitionBy("host").orderBy(*order)
    return (
        cand.withColumn("__rn", F.row_number().over(w2))
        .filter((F.col("__rn") <= budget) | F.col("host").isNull())
        .drop("__rn", "__budget")
    )


def _budget_pandas(
    cand: DataFrame, policy: RetryPolicy, per_host_budget, default_budget
) -> DataFrame:
    """Per-host grouped priority queue via applyInPandas (north_star's
    stated shape) — use when the per-host rule needs imperative logic
    (custom priorities, token buckets); the window variant is otherwise
    equivalent and cheaper.

    The budget table rides a broadcast join onto the candidates (r5
    verdict #4): a driver dict would be O(#hosts) driver memory at
    100 TB; the broadcast join keeps the budget lookup distributed and
    bounded per executor."""
    default = _UNBOUNDED if default_budget is None else default_budget
    retry_first = policy == RetryPolicy.FIRST
    schema = cand.schema

    if per_host_budget is not None:
        b = F.broadcast(
            per_host_budget.select(
                F.col("host").alias("__bhost"), F.col("budget").alias("__budget")
            )
        )
        cand2 = cand.join(b, cand["host"] == b["__bhost"], "left").drop("__bhost")
    else:
        cand2 = cand.withColumn("__budget", F.lit(None).cast("int"))

    def take(key, pdf: pd.DataFrame) -> pd.DataFrame:
        host = key[0]
        bval = pdf["__budget"].iloc[0] if len(pdf) else None
        n = int(bval) if pd.notna(bval) else default
        if host is None:
            n = len(pdf)  # hostless rows are never budget-bound (F7 analog)
        prio = pdf["is_retry"].fillna(False).astype(int)
        if retry_first:
            prio = 1 - prio
        eff_retry_at = pdf["retry_at"].where(pdf["is_retry"].fillna(False), 0.0)
        order = pd.DataFrame(
            {"p": prio, "r": eff_retry_at, "s": -pdf["seq"]}
        ).sort_values(["p", "r", "s"]).index
        return pdf.loc[order].head(n).drop(columns=["__budget"])

    return cand2.groupBy("host").applyInPandas(take, schema=schema)


def budget_keep_flags(
    cand: DataFrame,
    order,
    per_host_budget,
    default_budget,
    impl: str = "window",
    default_can_bind: bool = False,
    n_shards: int | None = None,
) -> DataFrame:
    """Append a boolean ``__keep`` (dispatch this wave under the per-host
    budgets) WITHOUT dropping rows — the caller materializes the flagged
    frame once and derives both the wave (``__keep``) and the deferred
    complement (``~__keep``) as cheap filters over it, replacing the
    per-wave ``frontier ∖ wave`` anti-join the old path paid (guide §2.4:
    one exchange feeds both outputs).

    Only rows of hosts that actually carry a budget row are windowed:
    a host with no entry is bounded by ``default_budget`` only, so when
    the caller can prove the default cannot bind (total candidate rows ≤
    default budget ⇒ no host can exceed it), those rows skip the window
    shuffle+sort entirely — in a politeness crawl where one host carries
    a Crawl-delay, that removes ~all of the window work. Pass
    ``default_can_bind=True`` to window everything (same output as the
    old `_budget_window`).

    ``impl='window2'`` applies the skew-proof two-phase top-k to the
    windowed subset (phase-1 eliminations are provably outside the true
    per-host top-budget, so flagging them False is exact — see
    :func:`_budget_window_two_phase`).
    """
    keep = F.col("__keep")
    if per_host_budget is None:
        # only the scalar default budget exists
        if not default_can_bind:
            return cand.withColumn("__keep", F.lit(True))
        w = Window.partitionBy("host").orderBy(*order)
        return (
            cand.withColumn("__rn", F.row_number().over(w))
            .withColumn(
                "__keep",
                (F.col("__rn") <= F.lit(default_budget)) | F.col("host").isNull(),
            )
            .drop("__rn")
        )

    b = F.broadcast(
        per_host_budget.select(
            F.col("host").alias("__bhost"), F.col("budget").alias("__budget")
        )
    )
    joined = cand.join(b, cand["host"] == F.col("__bhost"), "left").drop("__bhost")
    budget = _host_budget(default_budget)

    if default_can_bind:
        windowed = joined
        passed = None
    else:
        windowed = joined.filter(F.col("__budget").isNotNull())
        passed = joined.filter(F.col("__budget").isNull()).withColumn(
            "__keep", F.lit(True)
        )

    if impl == "window2":
        spark = cand.sparkSession
        shards = n_shards or max(spark.sparkContext.defaultParallelism, 1)
        salt = F.pmod(F.col("url_hash"), F.lit(shards))
        w1 = Window.partitionBy(F.col("host"), salt).orderBy(*order)
        windowed = windowed.withColumn("__rn1", F.row_number().over(w1))
        survivors = windowed.filter(
            (F.col("__rn1") <= budget) | F.col("host").isNull()
        ).drop("__rn1")
        eliminated = (
            windowed.filter((F.col("__rn1") > budget) & F.col("host").isNotNull())
            .drop("__rn1")
            .withColumn("__keep", F.lit(False))
        )
        w2 = Window.partitionBy("host").orderBy(*order)
        flagged = (
            survivors.withColumn("__rn", F.row_number().over(w2))
            .withColumn(
                "__keep", (F.col("__rn") <= budget) | F.col("host").isNull()
            )
            .drop("__rn")
        ).unionByName(eliminated)
    else:
        w = Window.partitionBy("host").orderBy(*order)
        flagged = windowed.withColumn("__rn", F.row_number().over(w)).withColumn(
            "__keep", (F.col("__rn") <= budget) | F.col("host").isNull()
        ).drop("__rn")

    if passed is not None:
        flagged = flagged.unionByName(passed)
    return flagged.drop("__budget")


def select_wave(
    frontier: DataFrame,
    policy: RetryPolicy,
    wave_size: int | None,
    now: float,
    fresh_empty: bool,
    per_host_budget: DataFrame | None = None,
    default_budget: int | None = None,
    impl: str = "window",
) -> DataFrame:
    """Pick the next wave from the frontier.

    ``per_host_budget`` is an optional tiny table ``(host, budget)``
    (derived from robots Crawl-delay) broadcast onto the frontier;
    ``default_budget`` caps hosts without an entry. ``wave_size`` is the
    reference's engine bound (global top-k). ``impl`` selects the
    politeness enforcement: 'window' (JVM) or 'pandas' (applyInPandas
    grouped priority queue).
    """
    ripe = ~F.col("is_retry") | (F.col("retry_at") <= F.lit(now)) | F.lit(fresh_empty)
    cand = frontier.filter(ripe)
    if policy == RetryPolicy.NO:
        cand = cand.filter(~F.col("is_retry"))

    order = policy_order(policy)

    if per_host_budget is not None or default_budget is not None:
        if impl == "pandas":
            cand = _budget_pandas(cand, policy, per_host_budget, default_budget)
        elif impl == "window2":
            # skew-proof two-phase top-k: per-(host, salt) then per-host —
            # the 100 TB shape (a hot host never sorts in one task)
            cand = _budget_window_two_phase(
                cand, order, per_host_budget, default_budget
            )
        else:
            cand = _budget_window(cand, order, per_host_budget, default_budget)

    if wave_size is not None:
        # global policy order — exact reference dispatch order (O1/O2/O6).
        # orderBy().limit(k) compiles to TakeOrderedAndProject: a per-
        # partition top-k + a k-row merge on the driver, NOT a full sort.
        cand = cand.orderBy(*order).limit(wave_size)
    return cand


def politeness_budget(
    robots: DataFrame | None,
    wave_seconds: float,
) -> DataFrame | None:
    """Per-host wave budget from robots Crawl-delay: a host allowing one
    request per ``delay`` seconds gets ``max(1, wave_seconds/delay)`` slots
    per wave (north_star politeness extension; the reference only has the
    global engine bound + robots allow/deny). ``robots`` is the compiled
    table (:func:`doonop_spark.operators.robots.compile_robots`), whose
    ``delay`` is already parsed — this is a pure JVM projection. A delay
    so small that the budget overflows an int is unbounded."""
    if robots is None:
        return None
    slots = F.floor(F.lit(wave_seconds) / F.col("delay"))
    return robots.filter(F.col("delay").isNotNull() & (F.col("delay") > 0)).select(
        "host",
        F.greatest(F.lit(1), F.least(slots, F.lit(_UNBOUNDED))).cast("int").alias("budget"),
    )


def salt_for_skew(wave: DataFrame, target_rows: int) -> DataFrame:
    """X1 — spread hot hosts over multiple shards before the fetch/extract
    stage: per-host counts decide how many salts each host gets
    (``ceil(count/target)``), then repartition by (host, salt). The
    reference gets this load balance for free from its shared URL channel
    (``src/workload.rs:85-86``); a partition-per-host would bottleneck on
    the hot host instead. AQE skew-join handling complements this for the
    corpus join."""
    counts = wave.groupBy("host").agg(F.count("*").alias("__n"))
    salts = counts.select(
        F.col("host").alias("__shost"),
        F.greatest(F.lit(1), F.ceil(F.col("__n") / F.lit(target_rows))).alias("__nsalt"),
    )
    salted = (
        wave.join(F.broadcast(salts), wave["host"] == F.col("__shost"), "left")
        .withColumn(
            "__salt",
            F.pmod(F.col("url_hash"), F.coalesce(F.col("__nsalt"), F.lit(1))),
        )
        .drop("__shost")
    )
    n_shards = max(wave.sparkSession.sparkContext.defaultParallelism, 1)
    return salted.repartition(n_shards, "host", "__salt").drop("__nsalt", "__salt")


def indegree_priority(
    frontier: DataFrame,
    links: DataFrame,
    k: int,
    url_col: str = "url",
    dst_col: str = "dst",
) -> DataFrame:
    """Importance-first frontier selection (OPIC-lite): rank unvisited
    URLs by the in-degree harvested so far and dispatch the global top-k
    — the classic "crawl the most-linked pages first" policy, offered as
    an alternative ordering to the reference's LIFO stack (O1,
    ``src/workload.rs:230``; the reference has exactly one order, this is
    a north-star extension).

    Scale shape: the in-degree is ONE map-side-combinable hash agg over
    the edge list (shuffle carries distinct (url, partial-count) rows,
    never the edges); the frontier joins it with a shuffled hash join on
    the url key; the top-k is ``orderBy(...).limit(k)`` which Spark plans
    as TakeOrderedAndProject — per-partition top-k then a k-row driver
    merge, never a global sort. Ties break on the URL so the selection is
    total-ordered and exactly reproducible.

    Returns ``(url, in_deg)`` for the k selected URLs.
    """
    indeg = links.groupBy(F.col(dst_col).alias(url_col)).agg(
        F.count("*").alias("in_deg")
    )
    return (
        frontier.select(url_col)
        .join(indeg, url_col, "left")
        .na.fill({"in_deg": 0})
        .orderBy(F.col("in_deg").desc(), F.col(url_col).asc())
        .limit(k)
    )
