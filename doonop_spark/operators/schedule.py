"""Wave scheduling (SURVEY.md §2.6 O1-O6): LIFO frontier order,
retry-policy priority, retry ripeness, per-host politeness budgets.

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

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from doonop_spark.plans.job import RetryPolicy

__all__ = [
    "select_wave",
    "scale_wave",
    "ripe_split",
    "budget_keep_flags",
    "policy_order",
    "politeness_budget",
    "indegree_priority",
]

# the default budget when none is configured: no host can reach it
_UNBOUNDED = 2**31 - 1


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


def budget_keep_flags(
    cand: DataFrame,
    order,
    wave_seconds: float | None,
    default_budget,
    default_can_bind: bool = False,
) -> DataFrame:
    """Append a boolean ``__keep`` (dispatch this wave under the per-host
    budgets) WITHOUT dropping rows — the caller materializes the flagged
    frame once and derives both the wave (``__keep``) and the deferred
    complement (``~__keep``) as cheap filters over it, with no per-wave
    ``frontier ∖ wave`` anti-join (guide §2.4: one exchange feeds both
    outputs).

    The budget is a per-host top-k: ``row_number`` over a window
    partitioned by host in ``order``; a row keeps when its rank is within
    its own budget — :func:`politeness_budget` of the host's Crawl-delay
    that the robots gate stamped on the row as ``delay``, read with no
    join — else within ``default_budget`` (None = unbounded).
    ``wave_seconds=None`` (no robots table) leaves every row's budget
    null. Hostless rows always keep.

    Only rows that carry a budget are windowed: a row without one is
    bounded by ``default_budget`` only, so when the caller can prove the
    default cannot bind (total candidate rows ≤ default budget ⇒ no host
    can exceed it), those rows skip the window shuffle+sort entirely — in
    a politeness crawl where one host carries a Crawl-delay, that removes
    ~all of the window work. Pass ``default_can_bind=True`` to window
    every row.
    """
    budget = (
        F.lit(None) if wave_seconds is None else politeness_budget(F.col("delay"), wave_seconds)
    )
    cand = cand.withColumn("__budget", budget.cast("int"))
    windowed, passed = cand, None
    if not default_can_bind:
        windowed = cand.filter(F.col("__budget").isNotNull())
        passed = cand.filter(F.col("__budget").isNull()).withColumn("__keep", F.lit(True))

    # a row's own budget, else the default (0 is a real budget, only None
    # is unbounded)
    limit = F.coalesce(
        F.col("__budget"), F.lit(_UNBOUNDED if default_budget is None else default_budget)
    )
    w = Window.partitionBy("host").orderBy(*order)
    flagged = windowed.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__keep", (F.col("__rn") <= limit) | F.col("host").isNull()
    ).drop("__rn")

    if passed is not None:
        flagged = flagged.unionByName(passed)
    return flagged.drop("__budget")


def ripe_split(
    frontier: DataFrame, policy: RetryPolicy, now: float, fresh_empty: bool
) -> tuple[DataFrame, Column]:
    """The wave candidates — ripe rows (O3), and under policy No only fresh
    ones — and the predicate of their complement, the rows that stay in
    the frontier whatever the budgets decide."""
    is_retry = F.col("is_retry")
    cand = frontier.filter(~is_retry | (F.col("retry_at") <= F.lit(now)) | F.lit(fresh_empty))
    if policy == RetryPolicy.NO:
        return cand.filter(~is_retry), is_retry
    return cand, is_retry & (F.col("retry_at") > F.lit(now)) & ~F.lit(fresh_empty)


def select_wave(
    frontier: DataFrame,
    policy: RetryPolicy,
    wave_size: int | None,
    now: float,
    fresh_empty: bool,
    wave_seconds: float | None = None,
    default_budget: int | None = None,
) -> DataFrame:
    """Pick the next wave from the frontier: ripeness filter → per-host
    budget (:func:`budget_keep_flags`) → global top-k.

    ``wave_seconds`` turns each row's ``delay`` (its host's robots
    Crawl-delay, stamped on the row by the admission gate) into the
    host's budget; None means no robots table. ``default_budget`` caps
    rows without a Crawl-delay. ``wave_size`` is the reference's engine
    bound (global top-k).
    """
    cand, _ = ripe_split(frontier, policy, now, fresh_empty)
    order = policy_order(policy)

    if wave_seconds is not None or default_budget is not None:
        cand = (
            budget_keep_flags(
                cand,
                order,
                wave_seconds,
                default_budget,
                default_can_bind=default_budget is not None,
            )
            .filter(F.col("__keep"))
            .drop("__keep")
        )

    if wave_size is not None:
        # global policy order — exact reference dispatch order (O1/O2/O6).
        # orderBy().limit(k) compiles to TakeOrderedAndProject: a per-
        # partition top-k + a k-row merge on the driver, NOT a full sort.
        cand = cand.orderBy(*order).limit(wave_size)
    return cand


def scale_wave(
    frontier: DataFrame,
    policy: RetryPolicy,
    now: float,
    fresh_empty: bool,
    has_retries: bool,
    wave_seconds: float | None,
    default_budget: int | None,
    default_can_bind: bool,
    materialize,
) -> tuple[DataFrame, list[DataFrame], int | None]:
    """Scale-mode wave (no engine cap) → ``(wave, deferred, n)``. Ripeness
    and budgets are filters, so the rows staying behind (``deferred``) are
    filters too: no ``frontier ∖ wave`` anti-join (guide §2.4). With
    retries pending or a budget that can bind, the flagged frame
    (:func:`budget_keep_flags`) goes once through ``materialize(flagged) ->
    (frame, n kept)``. Otherwise the wave is the checkpointed frontier
    itself: zero jobs, and ``n`` is None.
    """
    cand, stays = ripe_split(frontier, policy, now, fresh_empty)
    deferred = [frontier.filter(stays)] if has_retries else []
    binds = wave_seconds is not None or default_can_bind
    if not (binds or has_retries):
        return cand, deferred, None
    flagged, n = materialize(
        budget_keep_flags(
            cand,
            policy_order(policy),
            wave_seconds,
            default_budget,
            default_can_bind=default_can_bind,
        )
    )
    if binds:
        deferred.append(flagged.filter(~F.col("__keep")).drop("__keep"))
    return flagged.filter(F.col("__keep")).drop("__keep"), deferred, n


def politeness_budget(delay: Column, wave_seconds: float) -> Column:
    """Per-host wave budget from robots Crawl-delay: a host allowing one
    request per ``delay`` seconds gets ``max(1, wave_seconds/delay)`` slots
    per wave (north_star politeness extension; the reference only has the
    global engine bound + robots allow/deny). ``delay`` is the parsed
    Crawl-delay that the admission gate
    (:func:`doonop_spark.operators.robots.robots_gate`) stamps on each row,
    so this is a pure JVM expression. Only a delay > 0 gives a budget
    (else null); a delay so small that the budget overflows an int is
    unbounded."""
    slots = F.floor(F.lit(wave_seconds) / delay)
    return F.when(
        delay > 0, F.greatest(F.lit(1), F.least(slots, F.lit(_UNBOUNDED))).cast("int")
    )


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
