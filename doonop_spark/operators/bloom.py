"""Partitioned bloom sidecar for the seen set (north_rule: "partitioned
bloom/cuckoo URL-seen filter").

At 10^10 seen URLs the exact anti-join is correct but every wave shuffles
the candidate links against the full seen table. The sidecar is a bank of
``n_partitions`` bloom filters, partition ``p = url_hash mod P`` covering
the seen keys whose hash lands in ``p``. Rows marked maybe-seen continue
to the exact anti-join; rows marked definitely-new skip it entirely. A
false positive costs one extra exact probe — never a dropped URL;
correctness stays with the anti-join.

The probe, :func:`bloom_flag_copartitioned`, is built for 10^10 keys:
candidate links cogroup with the bank rows on ``pid = pmod(url_hash, P)``
inside ONE ``applyInPandas``, so each task holds exactly its partition's
bitset (bank/P bytes) and the driver never materializes the bank at all.
It costs one links shuffle per wave (which the exact anti-join pays
anyway) plus a bank-side exchange of P rows; both scale per-partition, not
per-bank.

Hashing: the k bloom probe positions derive from the already-computed
``xxhash64(url)`` via the Kirsch-Mitzenmacher double-hashing trick
(h1 + i*h2), so Python never re-hashes URL strings.

Build is a grouped Arrow aggregation: seen keys shuffle once by
``pmod(url_hash, P)`` and each group folds its hashes into one bitset row
``(pid, m, k, bits)``; :func:`fold_bloom` ORs later seen deltas into it.
:class:`SeenBloom` holds the crawl loop's bank and its unfolded tail.
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from doonop_spark.operators.dedup import anti_join_flagged

__all__ = [
    "build_bloom",
    "fold_bloom",
    "bloom_flag_copartitioned",
    "SeenBloom",
]

# ``p`` (the bank's partition count) is carried EXPLICITLY in every row:
# empty hash partitions emit no row from the groupBy build, so inferring
# p as max(pid)+1 would under-count and probe with the wrong modulus —
# false negatives, i.e. dropped-duplicate admission (never-drop violation).
BLOOM_SCHEMA = "pid int, p int, m long, k int, n long, bits binary"


def _params(expected_per_partition: int, fp_rate: float) -> tuple[int, int]:
    """Optimal (m bits, k hashes) for n keys at the target FP rate."""
    n = max(expected_per_partition, 1)
    m = int(-n * math.log(fp_rate) / (math.log(2) ** 2))
    m = max(64, (m + 63) // 64 * 64)  # word-align
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _positions(hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """Kirsch-Mitzenmacher: position_i = (h1 + i*h2) mod m, vectorized;
    shape (n, k)."""
    h = hashes.astype(np.uint64)
    h1 = h % np.uint64(m)
    h2 = (h >> np.uint64(33) | np.uint64(1)) % np.uint64(m)
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)


def _bank_row(pid, p: int, m: int, k: int, bits: np.ndarray, n: int, hashes: np.ndarray):
    """OR ``hashes`` into ``bits`` (m/8 bytes, ``n`` keys so far) → one
    BLOOM_SCHEMA row as a pandas frame."""
    pos = _positions(hashes, m, k).ravel()
    np.bitwise_or.at(bits, (pos // 8).astype(np.int64), (1 << (pos % 8)).astype(np.uint8))
    n += len(hashes)
    return pd.DataFrame(
        {"pid": [int(pid)], "p": [p], "m": [m], "k": [k], "n": [n], "bits": [bits.tobytes()]}
    )


def _or_bits(raws: pd.Series) -> np.ndarray:
    """One pid's bank rows ORed into one bitset (rows not merged yet)."""
    bits = np.frombuffer(raws.iloc[0], dtype=np.uint8).copy()
    for raw in raws.iloc[1:]:
        bits |= np.frombuffer(raw, dtype=np.uint8)
    return bits


def _maybe_seen(bits: np.ndarray, hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """True = maybe seen (all k bits set); False = definitely new."""
    pos = _positions(hashes, m, k)
    hit = bits[(pos // 8).astype(np.int64)] & (1 << (pos % 8)).astype(np.uint8)
    return (hit != 0).all(axis=1)


def build_bloom(
    seen: DataFrame,
    n_partitions: int = 64,
    expected_per_partition: int = 1_000_000,
    fp_rate: float = 0.01,
    hash_col: str = "url_hash",
) -> DataFrame:
    """Seen keys → one bloom row per hash partition (BLOOM_SCHEMA)."""
    m, k = _params(expected_per_partition, fp_rate)

    def fold(key, pdf: pd.DataFrame) -> pd.DataFrame:
        hashes = pdf[hash_col].to_numpy(dtype=np.int64)
        return _bank_row(key[0], n_partitions, m, k, np.zeros(m // 8, dtype=np.uint8), 0, hashes)

    return (
        seen.select(F.pmod(F.col(hash_col), F.lit(n_partitions)).cast("int").alias("pid"), hash_col)
        .groupBy("pid")
        .applyInPandas(fold, schema=BLOOM_SCHEMA)
    )


def fold_bloom(
    bank: DataFrame,
    seen_delta: DataFrame,
    n_partitions: int,
    expected_per_partition: int = 1_000_000,
    fp_rate: float = 0.01,
    hash_col: str = "url_hash",
) -> DataFrame:
    """OR a batch of seen keys into an existing bank in ONE cogrouped
    Arrow stage: the delta's keys cogroup with the bank's row for their
    pid and the positions are OR'd straight into the existing bitset.
    Bit-exact the bank ``build_bloom`` makes from base ∪ delta (same
    ``_params``/``_positions``; pinned by tests). A pid with bank row but
    no new keys passes its row through; a pid with keys but no bank row
    creates one.

    The parameters are checked against one bank row before the cogroup
    (one small job), so a mismatched fold raises even when every key
    lands on a pid the bank has no row for."""
    m, k = _params(expected_per_partition, fp_rate)
    row = bank.select("p", "m").first()
    if row is not None and (row["p"] != n_partitions or row["m"] != m):
        raise ValueError(
            f"fold_bloom: bank built with p={row['p']}, m={row['m']}; "
            f"folding with p={n_partitions}, m={m}"
        )

    def fold(key, kpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
        if len(bpdf):
            bm = int(bpdf["m"].iloc[0])
            bp = int(bpdf["p"].iloc[0])
            if bp != n_partitions or bm != m:  # a bank of mixed rows
                raise ValueError(
                    f"fold_bloom: bank built with p={bp}, m={bm}; folding "
                    f"with p={n_partitions}, m={m}"
                )
            bits, n = _or_bits(bpdf["bits"]), int(bpdf["n"].sum())
        else:
            bits, n = np.zeros(m // 8, dtype=np.uint8), 0
        hashes = kpdf[hash_col].to_numpy(dtype=np.int64) if len(kpdf) else np.empty(0, np.int64)
        return _bank_row(key[0], n_partitions, m, k, bits, n, hashes)

    keys = seen_delta.select(
        F.pmod(F.col(hash_col), F.lit(n_partitions)).cast("int").alias("pid"),
        hash_col,
    )
    return (
        keys.groupBy("pid")
        .cogroup(bank.groupBy("pid"))
        .applyInPandas(fold, schema=BLOOM_SCHEMA)
    )


def bloom_flag_copartitioned(
    links: DataFrame,
    bloom_df: DataFrame,
    n_partitions: int,
    hash_col: str = "url_hash",
    flag_col: str = "__maybe",
) -> DataFrame:
    """Append ``flag_col`` (True = maybe seen, False = definitely new) to
    ``links`` WITHOUT driver-collecting the bank: links and bank rows
    cogroup on ``pid = pmod(url_hash, P)``; each task probes its group's
    hashes against its partition's bitset (present at most once per group).

    ``n_partitions`` must equal the P the bank was built with — it is
    asserted against the rows' embedded ``p`` so a mismatch fails loudly
    instead of probing with the wrong modulus (which would yield false
    negatives = dropped-duplicate admissions). A pid with no bank row has
    no seen keys: every candidate there is definitely new.

    The full links frame round-trips through Arrow here on purpose: a
    "narrow" variant (cogroup only ``url_hash``, join the flags back) was
    measured 2.3× slower at wave scale (0.62 s vs 1.41 s on 400k links,
    local[32]) — the distinct + join-back shuffles cost more than the
    extra column width through Arrow.
    """
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(links.schema) + [T.StructField(flag_col, T.BooleanType())]
    )
    link_cols = list(links.columns)

    def probe(key, lpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
        lpdf = lpdf[link_cols]
        if len(lpdf) == 0:
            return lpdf.assign(**{flag_col: pd.Series([], dtype=bool)})
        if len(bpdf) == 0:
            maybe = np.zeros(len(lpdf), dtype=bool)
        else:
            p = int(bpdf["p"].iloc[0])
            if p != n_partitions:
                raise ValueError(
                    f"bloom bank built with p={p}, probed with {n_partitions}"
                )
            maybe = _maybe_seen(
                _or_bits(bpdf["bits"]),
                lpdf[hash_col].to_numpy(dtype=np.int64),
                int(bpdf["m"].iloc[0]),
                int(bpdf["k"].iloc[0]),
            )
        return lpdf.assign(**{flag_col: maybe})

    pid = F.pmod(F.col(hash_col), F.lit(n_partitions)).cast("int")
    return (
        links.groupBy(pid.alias("__pid"))
        .cogroup(bloom_df.groupBy("pid"))
        .applyInPandas(probe, schema=out_schema)
    )


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
            bloom_flag_copartitioned(links, self.bank, n_partitions=self.n_partitions),
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
