"""Partitioned bloom sidecar for the seen set (north_rule: "partitioned
bloom/cuckoo URL-seen filter").

At 10^10 seen URLs the exact anti-join is correct but every wave shuffles
the candidate links against the full seen table. The sidecar is a bank of
``n_partitions`` blocked bloom filters: partition ``pid = pmod(url_hash,
P)`` covers the seen keys whose hash lands in it, in ``ceil(m / 32768)``
blocks of one 4,096-byte bitmap each. Rows marked maybe-seen continue to
the exact anti-join; rows marked definitely-new skip it entirely. A false
positive costs one extra exact probe — never a dropped URL; correctness
stays with the anti-join.

A bank row is ``(pid, blk, p, m, k, n, bits)``. With ``g =
xxhash64(url_hash)``, a key's block is ``pmod(g, ceil(m / 32768))`` and
its k bits are ``(h1 + i*h2) mod 32768`` within the block
(Kirsch-Mitzenmacher double hashing; h1 and h2 are g's high bits), so no
URL string is hashed again. ``bits`` is Spark's bitmap: bit ``pos`` is
``bits[pos // 8] >> (pos % 8) & 1``.

No stage leaves the JVM. :func:`build_bloom` is one ``groupBy(pid, blk)``
over ``bitmap_construct_agg``; :func:`fold_bloom` unions a delta's bank in
and ORs each block with ``bitmap_or_agg``. The probe,
:func:`bloom_flag_copartitioned`, left-joins the links to the bank on
``(pid, blk)`` as a shuffle-hash join, so each task holds only its own
blocks and the driver never sees the bank; k codegen'd bit tests then set
the flag. :class:`SeenBloom` holds the crawl loop's bank and its unfolded
tail.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from doonop_spark.operators.dedup import anti_join_flagged

__all__ = [
    "build_bloom",
    "fold_bloom",
    "bloom_flag_copartitioned",
    "SeenBloom",
]

# bits per block: one bitmap_construct_agg bitmap (4,096 bytes)
_BLOCK_BITS = 32768


def _params(expected_per_partition: int, fp_rate: float) -> tuple[int, int]:
    """Optimal (m bits, k hashes) for n keys at the target FP rate."""
    n = expected_per_partition
    if n < 1:
        raise ValueError(f"bloom expected_per_partition must be >= 1, got {n}")
    if not 0 < fp_rate < 1:
        raise ValueError(f"bloom fp_rate must be in (0, 1), got {fp_rate}")
    m = int(-n * math.log(fp_rate) / (math.log(2) ** 2))
    m = max(64, (m + 63) // 64 * 64)  # word-align
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _keyed(df: DataFrame, n_partitions: int, m: int) -> DataFrame:
    """``df`` with each ``url_hash`` key's partition ``__pid``, block
    ``__blk`` and second hash ``__g``."""
    g = F.xxhash64(F.col("url_hash"))
    return df.select(
        "*",
        F.pmod(F.col("url_hash"), F.lit(n_partitions)).cast("int").alias("__pid"),
        F.pmod(g, F.lit(-(-m // _BLOCK_BITS))).cast("int").alias("__blk"),
        g.alias("__g"),
    )


def _bit_positions(k: int) -> list[Column]:
    """The k in-block bit positions of ``__g``."""
    g = F.col("__g")
    h1 = F.shiftrightunsigned(g, 49)
    h2 = F.shiftrightunsigned(g, 34).bitwiseAND(_BLOCK_BITS - 1).bitwiseOR(1)
    return [(h1 + i * h2).bitwiseAND(_BLOCK_BITS - 1) for i in range(k)]


def _bank(
    keyed: DataFrame, n: Column, bits: Column, n_partitions: int, m: int, k: int
) -> DataFrame:
    """One bank row per ``(__pid, __blk)`` group of ``keyed``. ``p`` is
    carried EXPLICITLY in every row: empty hash partitions have no row, so
    inferring p as max(pid)+1 would under-count and probe with the wrong
    modulus — false negatives, i.e. dropped-duplicate admission."""
    return (
        keyed.groupBy("__pid", "__blk")
        .agg(n.alias("n"), bits.alias("bits"))
        .select(
            F.col("__pid").alias("pid"),
            F.col("__blk").alias("blk"),
            F.lit(n_partitions).alias("p"),
            F.lit(m).cast("long").alias("m"),
            F.lit(k).alias("k"),
            "n",
            "bits",
        )
    )


def build_bloom(
    seen: DataFrame,
    n_partitions: int = 64,
    expected_per_partition: int = 1_000_000,
    fp_rate: float = 0.01,
) -> DataFrame:
    """Seen ``url_hash`` keys → one bank row per non-empty ``(pid, blk)``
    block."""
    m, k = _params(expected_per_partition, fp_rate)
    positions = _keyed(seen.select("url_hash"), n_partitions, m).select(
        "__pid", "__blk", F.posexplode(F.array(*_bit_positions(k))).alias("i", "pos")
    )
    return _bank(
        positions,
        F.count_if(F.col("i") == 0),
        F.bitmap_construct_agg("pos"),
        n_partitions,
        m,
        k,
    )


def _param_mismatch(
    p_col: Column, m_col: Column, n_partitions: int, m: int, verb: str
) -> tuple[Column, Column]:
    """``(condition, error)`` for a bank row whose ``p`` or ``m`` differs
    from the parameters it is ``verb`` with: using such a bank would probe
    or fold with the wrong modulus or block count (false negatives =
    dropped-duplicate admissions), so the job fails through
    ``raise_error`` instead."""
    error = F.raise_error(
        F.concat(
            F.lit("bloom bank built with p="),
            p_col.cast("string"),
            F.lit(", m="),
            m_col.cast("string"),
            F.lit(f"; {verb} with p={n_partitions}, m={m}"),
        )
    )
    return (p_col != n_partitions) | (m_col != m), error


def fold_bloom(
    bank: DataFrame,
    seen_delta: DataFrame,
    n_partitions: int,
    expected_per_partition: int = 1_000_000,
    fp_rate: float = 0.01,
) -> DataFrame:
    """OR a batch of seen keys into an existing bank: the delta's own bank
    is unioned in and each block's bitmaps are ORed by ``bitmap_or_agg``.
    Bit-exact the bank ``build_bloom`` makes from base ∪ delta (pinned by
    tests). A block with bank row but no new keys passes its bits
    through; a block with keys but no bank row creates one.

    Every bank row is checked against the fold's parameters inside the
    fold's own plan (:func:`_param_mismatch` on its ``pid``, a grouping
    key no projection prunes), so a mismatched fold fails when it is
    materialized, even when every key lands on a block the bank has no
    row for."""
    m, k = _params(expected_per_partition, fp_rate)
    bad, error = _param_mismatch(F.col("p"), F.col("m"), n_partitions, m, "folded")
    cols = [F.col("blk").alias("__blk"), "n", "bits"]
    both = bank.select(
        F.when(bad, error).otherwise(F.col("pid")).alias("__pid"), *cols
    ).unionByName(
        build_bloom(seen_delta, n_partitions, expected_per_partition, fp_rate).select(
            F.col("pid").alias("__pid"), *cols
        )
    )
    return _bank(both, F.sum("n"), F.bitmap_or_agg("bits"), n_partitions, m, k)


def _bit_set(bits: Column, pos: Column) -> Column:
    """Bit ``pos`` of the bitmap ``bits``."""
    byte = F.conv(F.hex(F.substr(bits, F.shiftright(pos, 3) + 1, F.lit(1))), 16, 10)
    return F.bit_get(byte.cast("int"), pos.bitwiseAND(7)) == 1


def bloom_flag_copartitioned(
    links: DataFrame,
    bloom_df: DataFrame,
    n_partitions: int,
    expected_per_partition: int = 1_000_000,
    fp_rate: float = 0.01,
) -> DataFrame:
    """Append ``__maybe`` (True = maybe seen, False = definitely new) to
    ``links`` WITHOUT driver-collecting the bank: links left-join the bank
    rows on ``(pid, blk)`` as a shuffle-hash join with the bank as the
    build side, and k JVM bit tests over the joined block set the flag. A
    block with no bank row has no seen keys: every candidate there is
    definitely new.

    ``n_partitions``, ``expected_per_partition`` and ``fp_rate`` must be
    the bank's build parameters: a joined row whose ``p`` or ``m`` differs
    fails the job (:func:`_param_mismatch`)."""
    m, k = _params(expected_per_partition, fp_rate)
    bank = bloom_df.select(
        F.col("pid").alias("__pid"),
        F.col("blk").alias("__blk"),
        F.col("p").alias("__p"),
        F.col("m").alias("__m"),
        F.col("bits").alias("__bits"),
    )
    joined = _keyed(links, n_partitions, m).join(
        bank.hint("shuffle_hash"), on=["__pid", "__blk"], how="left"
    )
    bits = F.col("__bits")
    hit = reduce(Column.__and__, [_bit_set(bits, pos) for pos in _bit_positions(k)])
    bad, error = _param_mismatch(F.col("__p"), F.col("__m"), n_partitions, m, "probed")
    flag = F.when(bits.isNull(), F.lit(False)).when(bad, error).otherwise(hit)
    return joined.select(*links.columns, flag.alias("__maybe"))


class SeenBloom:
    """The crawl's seen-sidecar: the bank, built once over the seen set
    (covers resume too) and folded every ``fold_every`` waves, and the
    uncovered tail of seen deltas not folded yet. Rows the lagging bank
    clears are still anti-joined with the tail, so no duplicate is ever
    admitted. The bank and the flagged links are materialized through
    ``io`` (a TableIO).
    """

    def __init__(
        self,
        io,
        seen: DataFrame,
        iteration: int,
        n_partitions: int,
        expected_per_partition: int,
        fp_rate: float = 0.01,
        fold_every: int = 4,
    ):
        self.io = io
        self.n_partitions = n_partitions
        self.expected_per_partition = expected_per_partition
        self.fp_rate = fp_rate
        self.fold_every = fold_every
        self.tail: list[DataFrame] = []  # seen deltas not yet in the bank
        self.bank = io.materialize(
            build_bloom(
                seen,
                n_partitions=n_partitions,
                expected_per_partition=expected_per_partition,
                fp_rate=fp_rate,
            ),
            "bloom",
            iteration,
        )

    def new_links(self, links: DataFrame, seen: DataFrame, iteration: int) -> DataFrame:
        """``links`` not in ``seen``: flagged by
        :func:`bloom_flag_copartitioned`, materialized once, then
        :func:`anti_join_flagged`."""
        flagged = self.io.materialize(
            bloom_flag_copartitioned(
                links,
                self.bank,
                n_partitions=self.n_partitions,
                expected_per_partition=self.expected_per_partition,
                fp_rate=self.fp_rate,
            ),
            "links_flagged",
            iteration,
        )
        return anti_join_flagged(flagged, seen, self.tail)

    def add(self, delta: DataFrame, iteration: int, fold_now: bool = False) -> None:
        """Add a seen delta to the tail; fold the tail into the bank
        (:func:`fold_bloom`, never a rebuild) once it holds ``fold_every``
        deltas, or at once when ``fold_now``."""
        self.tail.append(delta)
        if fold_now or len(self.tail) >= self.fold_every:
            folded = fold_bloom(
                self.bank,
                reduce(DataFrame.unionByName, self.tail),
                n_partitions=self.n_partitions,
                expected_per_partition=self.expected_per_partition,
                fp_rate=self.fp_rate,
            )
            self.tail = []
            self.bank = self.io.materialize(folded, "bloom", iteration)
