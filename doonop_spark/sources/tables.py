"""Snapshot table I/O — the engine's state store (SURVEY.md §2.9; north_rule
checkpoint/resume).

The reference keeps all crawl state in driver RAM and loses it on exit
(``src/workload.rs:25-35``); graceful shutdown merely drains in-flight work
(``src/main.rs:41-48``). Our engine's cross-wave state (frontier, seen,
results, metrics) lives in *tables* so a crawl is resumable at wave
granularity.

Two interchangeable backends behind one interface:

- :class:`MemoryTableIO` — state is held as eagerly local-checkpointed
  DataFrames (lineage cut per wave so iterative plans don't snowball).
  Used by tests and the throughput bench.
- :class:`SnapshotTableIO` — durable state: what a resume reads and
  nothing else. The ``frontier`` snapshot of every wave is written as
  parquet to a temp directory and moved into ``{root}/frontier/iter={i}``
  with one ``os.replace``; the appended tables (``seen``, ``results``,
  ``metrics``) are written as ``part_iter={i}`` parts; a JSON manifest
  (``state.json``) holds the scalar state (seq counter, collected count,
  iteration). Every other materialized table (``wave``, ``wave_fetched``,
  ``links_flagged``, ``new_links``, ``bloom``) is a local checkpoint, as
  in the in-memory backend: no resume reads it, and the bloom bank is
  rebuilt from ``seen``. ``resume()`` restores the exact pre-wave state —
  kill the driver at any point and the next run continues from the last
  committed wave. Losing an executor mid-wave loses that wave's local
  checkpoints, so it fails the wave, and the crawl resumes from the last
  committed wave, the same as after a driver crash. This is the
  parquet-directory stand-in for an Iceberg snapshot chain: no Iceberg
  catalog/jars ship with this runtime, so Iceberg support is a config
  switch (``table_format="iceberg"``) that raises until the runtime has
  ``spark.sql.catalog.*`` configured for Iceberg.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = ["TableIO", "MemoryTableIO", "SnapshotTableIO", "open_table_io"]


class TableIO:
    """Interface: materialize per-wave state, append event tables, persist
    scalar state."""

    def materialize(self, df: DataFrame, name: str, iteration: int) -> DataFrame:
        raise NotImplementedError

    def append(self, df: DataFrame, name: str, iteration: int, eager: bool = True) -> DataFrame:
        """``eager=False`` permits a lazy append for tables only read after
        the loop ends (results/metrics) — the in-memory backend then skips
        the per-wave checkpoint job; durable backends always write.

        Returns the appended part as the store holds it — readable until
        the part is dropped, with no Spark job to open it."""
        raise NotImplementedError

    def read_appended(self, spark: SparkSession, name: str) -> DataFrame | None:
        raise NotImplementedError

    def save_state(self, state: dict[str, Any]) -> None:
        raise NotImplementedError

    def load_state(self) -> dict[str, Any] | None:
        raise NotImplementedError

    def load_table(self, spark: SparkSession, name: str, iteration: int) -> DataFrame:
        raise NotImplementedError

    def prune_appends(self, name: str, max_iteration: int) -> None:
        """Drop appended parts with iteration >= max_iteration — orphans
        from a wave that died between append and state commit. No-op for
        in-memory state (no resume there)."""

    def drop_appends_before(self, name: str, iteration: int) -> None:
        """Drop appended parts with iteration < iteration — used after a
        compaction wave wrote a consolidated part at ``iteration`` that
        supersedes all earlier parts. Called AFTER the state commit, so a
        crash in between leaves stale parts alongside the consolidated one:
        harmless for the seen set (duplicate rows on the anti-join/bloom
        build side never change the result) and swept by the next
        compaction."""


class MemoryTableIO(TableIO):
    """In-memory backend: localCheckpoint cuts lineage; appends accumulate
    as a list of checkpointed frames unioned on read."""

    def __init__(self) -> None:
        self._appended: dict[str, list[tuple[int, DataFrame]]] = {}
        self._state: dict[str, Any] | None = None
        self._live: dict[str, DataFrame] = {}

    def materialize(self, df: DataFrame, name: str, iteration: int) -> DataFrame:
        out = df.localCheckpoint(eager=True)
        self._live[name] = out
        return out

    def append(self, df: DataFrame, name: str, iteration: int, eager: bool = True) -> DataFrame:
        # a lazy append must still be valid after its upstream _live entry
        # is replaced: it holds its own reference to the checkpointed RDDs
        # it derives from, which keeps their blocks alive
        part = df.localCheckpoint(eager=True) if eager else df
        self._appended.setdefault(name, []).append((iteration, part))
        return part

    def read_appended(self, spark: SparkSession, name: str) -> DataFrame | None:
        frames = [f for _, f in self._appended.get(name, [])]
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def drop_appends_before(self, name: str, iteration: int) -> None:
        self._appended[name] = [
            (i, f) for i, f in self._appended.get(name, []) if i >= iteration
        ]

    def save_state(self, state: dict[str, Any]) -> None:
        self._state = dict(state)

    def load_state(self) -> dict[str, Any] | None:
        return self._state

    def load_table(self, spark: SparkSession, name: str, iteration: int) -> DataFrame:
        return self._live[name]


def _read_back(df: DataFrame, path: str) -> DataFrame:
    """``df`` as written to ``path``; the known schema saves the job that
    parquet schema inference would launch."""
    return df.sparkSession.read.schema(df.schema).parquet(path)


class SnapshotTableIO(TableIO):
    """Parquet snapshot-directory backend with exact resume."""

    # the materialized tables a resume reads; every other one is a local
    # checkpoint
    DURABLE = frozenset({"frontier"})

    def __init__(self, root: str) -> None:
        self.root = root
        # each appended table's schema, so reading the parts back needs no
        # inference job; a resumed process without it infers once per read
        self._schemas: dict[str, StructType] = {}
        os.makedirs(root, exist_ok=True)

    def _dir(self, name: str, iteration: int) -> str:
        return os.path.join(self.root, name, f"iter={iteration}")

    def materialize(self, df: DataFrame, name: str, iteration: int) -> DataFrame:
        if name not in self.DURABLE:
            return df.localCheckpoint(eager=True)
        path = self._dir(name, iteration)
        tmp = os.path.join(self.root, name, f"_iter={iteration}.tmp")
        try:
            df.write.mode("overwrite").parquet(tmp)
            if os.path.exists(path):
                shutil.rmtree(path)  # written by a run killed before its state commit
            os.replace(tmp, path)  # a failed write never leaves iter={iteration}
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        out = _read_back(df, path)
        # snapshots older than the previous wave are dead weight; keep two
        # (current + previous) so a crash mid-write never loses state.
        base = os.path.join(self.root, name)
        snaps = sorted(
            (d for d in os.listdir(base) if d.startswith("iter=")),
            key=lambda d: int(d.split("=")[1]),
        )
        for stale in snaps[:-2]:
            shutil.rmtree(os.path.join(base, stale), ignore_errors=True)
        return out

    def append(self, df: DataFrame, name: str, iteration: int, eager: bool = True) -> DataFrame:
        path = os.path.join(self.root, name, f"part_iter={iteration}")
        df.write.mode("overwrite").parquet(path)  # durable: always written
        self._schemas[name] = df.schema
        return _read_back(df, path)

    def read_appended(self, spark: SparkSession, name: str) -> DataFrame | None:
        base = os.path.join(self.root, name)
        if not os.path.isdir(base):
            return None
        parts = [os.path.join(base, d) for d in os.listdir(base) if d.startswith("part_iter=")]
        if not parts:
            return None
        reader = spark.read
        if name in self._schemas:
            reader = reader.schema(self._schemas[name])
        return reader.parquet(*parts)

    def save_state(self, state: dict[str, Any]) -> None:
        tmp = os.path.join(self.root, "_state.json.tmp")
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, os.path.join(self.root, "state.json"))  # atomic

    def load_state(self) -> dict[str, Any] | None:
        path = os.path.join(self.root, "state.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def load_table(self, spark: SparkSession, name: str, iteration: int) -> DataFrame:
        if name not in self.DURABLE:
            raise ValueError(
                f"SnapshotTableIO keeps no durable {name!r} table; "
                f"durable tables: {', '.join(sorted(self.DURABLE))}"
            )
        return spark.read.parquet(self._dir(name, iteration))

    def prune_appends(self, name: str, max_iteration: int) -> None:
        base = os.path.join(self.root, name)
        if not os.path.isdir(base):
            return
        for d in os.listdir(base):
            if d.startswith("part_iter=") and int(d.split("=")[1]) >= max_iteration:
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)

    def drop_appends_before(self, name: str, iteration: int) -> None:
        base = os.path.join(self.root, name)
        if not os.path.isdir(base):
            return
        for d in os.listdir(base):
            if d.startswith("part_iter=") and int(d.split("=")[1]) < iteration:
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)


def open_table_io(kind: str = "memory", root: str | None = None) -> TableIO:
    if kind == "memory":
        return MemoryTableIO()
    if kind == "snapshot":
        if root is None:
            raise ValueError("snapshot TableIO needs a root directory")
        return SnapshotTableIO(root)
    if kind == "iceberg":
        raise NotImplementedError(
            "Iceberg catalog jars are not on this runtime's classpath; "
            "configure spark.sql.catalog.* for Iceberg and add an "
            "IcebergTableIO (same interface: snapshot per wave = Iceberg "
            "snapshot, resume = time-travel to last committed snapshot)."
        )
    raise ValueError(f"unknown TableIO kind: {kind}")
