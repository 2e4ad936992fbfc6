"""The benchmark's three workloads. Each one builds its inputs from the
seed, computes the expected output without the code it measures, drives
the engine through its public API and checks every run against the
expectation.

- ``crawl_cached``: scale-mode BFS over a corpus that fits the fetch cache,
  with ``MemoryTableIO`` and nothing else switched on. Many small waves, so
  per-wave fixed cost and the fetch/extract Arrow stage dominate.
- ``crawl_scale``: the cluster configuration on this host: a bucketed
  corpus the fetch cache may not hold, the co-partitioned bloom probe,
  binding Crawl-delay politeness, a robots ``Disallow`` rule, timeouts that
  succeed on retry, and durable ``SnapshotTableIO`` state.
- ``text_dedup``: MinHash+LSH pairs feeding ``dedup_keep``, and exact
  n-gram Jaccard pairs, over one generated ``documents`` table.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from collections import deque
from contextlib import contextmanager
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEP = "\u0001"


def digest(pairs) -> tuple[int, int]:
    """Order-independent digest of (url, data) rows: count and the sum of
    their SHA-256 values mod 2^256."""
    total, n = 0, 0
    for url, data in pairs:
        total += int(hashlib.sha256(f"{url}{SEP}{data}".encode()).hexdigest(), 16)
        n += 1
    return n, total % (1 << 256)


def spark_digest(results: DataFrame) -> tuple[int, int]:
    """The same digest over a result frame; only the hashes reach the
    driver, but every row and its ``data`` is computed."""
    rows = results.select(
        F.sha2(F.concat_ws(SEP, "url", "data"), 256).alias("h")
    ).collect()
    return len(rows), sum(int(r.h, 16) for r in rows) % (1 << 256)


class NoTrace:
    """Stands in for :class:`spans.Trace` in untraced runs."""

    @contextmanager
    def span(self, name: str):
        yield {"s": 0.0}

    def wrap(self, io):
        return io


# ---- crawls -----------------------------------------------------------------


class Crawl:
    """One BFS crawl over a synthetic site graph (``synthetic_corpus``):
    each host is a binary tree of ``pages_per_host`` pages rooted at
    ``/p0``, every 7th page also links the next host's root. All host names
    carry a salt drawn from the seed, so no two seeds crawl the same URLs."""

    min_runs = 1  # untraced runs a measurement holds at least

    def __init__(self, spark: SparkSession, seed: int, work: str):
        self.spark = spark
        self.work = work
        self.n = spark.sparkContext.defaultParallelism
        rng = random.Random(seed)
        self.rng = rng
        self.salt = f"s{rng.randrange(16**6):06x}-"
        self.n_pages = self.hosts * self.pages_per_host
        self.seeds = [self.url(h, 0) for h in range(self.hosts)]
        self.runs = 0

    def host(self, h: int) -> str:
        return f"{self.salt}h{h:04d}.example"

    def url(self, h: int, p: int) -> str:
        return f"http://{self.host(h)}/p{p}"

    def _relabel(self, col):
        return F.regexp_replace(col, r"\bh(\d{4})\.example", self.salt + "h$1.example")

    def _generate(self) -> DataFrame:
        from doonop_spark.sources.corpus import synthetic_corpus

        # hot_share gives host 0 exactly pages_per_host pages, like the rest
        c = synthetic_corpus(
            self.spark,
            n_hosts=self.hosts,
            n_pages=self.n_pages,
            hot_share=(self.pages_per_host + 0.5) / self.n_pages,
            partitions=self.n,
            filler_words=150,
        )
        return c.select(
            self._relabel(F.col("url")).alias("url"),
            "warc_ts",
            F.encode(self._relabel(F.decode("html", "UTF-8")), "UTF-8").alias("html"),
            self._relabel(F.col("text")).alias("text"),
            "lang",
        )

    def allowed(self, url: str) -> bool:
        return True

    def prepare(self) -> None:
        """Write the corpus and compute the expected crawl from its link
        table with a driver-side BFS (links read by a JVM regex, not by the
        engine's extractor)."""
        self._write_corpus(self._generate())
        pages = {
            r.url: (r.text, r.links)
            for r in self.corpus.select(
                "url",
                "text",
                F.regexp_extract_all(
                    F.decode("html", "UTF-8"), F.lit(r'href="([^"]*)"'), 1
                ).alias("links"),
            ).collect()
        }
        seen = set(self.seeds)
        queue = deque(u for u in self.seeds if self.allowed(u))
        stats = dict(count_errors=0, count_retries=0, count_visited=0, count_collected=0)
        results = []
        while queue:
            u = queue.popleft()
            # a scheduled timeout is retried once and then succeeds
            if u in self.faults:
                stats["count_visited"] += 1
                stats["count_retries"] += 1
            stats["count_visited"] += 1
            if u not in pages:
                stats["count_errors"] += 1
                continue
            text, links = pages[u]
            stats["count_collected"] += 1
            results.append((u, text))
            for link in links:
                if link not in seen:
                    seen.add(link)
                    if self.allowed(link):
                        queue.append(link)
        self.expected = {"stats": stats, "seen": len(seen), "digest": digest(results)}

    def sizes(self) -> dict:
        return {
            "hosts": self.hosts,
            "pages": self.n_pages,
            "expected_visited": self.expected["stats"]["count_visited"],
            "expected_seen": self.expected["seen"],
        }

    def warm(self) -> None:
        """Two whole crawls, unchecked. The first crawl of a session pays
        JIT and code generation for the plans of every wave; after one
        warm crawl the next is still 0 to 35% slower than later ones."""
        for _ in range(2):
            self.run(NoTrace())
            self.state_mb()

    def run(self, trace) -> dict:
        from doonop_spark.plans.loop import run_crawl

        self.runs += 1
        io = trace.wrap(self.table_io())
        res = run_crawl(
            self.spark,
            self.job(),
            self.corpus,
            robots=self.robots,
            fault_schedule=self.fault_frame,
            io=io,
        )
        with trace.span("results"):
            got = spark_digest(res.results)
        with trace.span("check"):
            seen = res.seen.count()
        stats = dict(vars(res.stats))
        problems = []
        if got != self.expected["digest"]:
            problems.append(f"results digest {got[0]} rows != expected {self.expected['digest'][0]}")
        if seen != self.expected["seen"]:
            problems.append(f"seen {seen} != {self.expected['seen']}")
        if stats != self.expected["stats"]:
            problems.append(f"stats {stats} != {self.expected['stats']}")
        return {
            "ok": not problems,
            "problems": problems,
            "items": stats["count_visited"],
            "stats": stats,
            "waves": res.iterations,
        }


class CrawlCached(Crawl):
    name = "crawl_cached"
    hosts = 128
    pages_per_host = 31  # five BFS levels: five waves

    def _write_corpus(self, df: DataFrame) -> None:
        path = os.path.join(self.work, "corpus")
        df.write.mode("overwrite").parquet(path)
        self.corpus = self.spark.read.parquet(path)
        self.robots = None
        self.faults = set()
        self.fault_frame = None

    def job(self):
        from doonop_spark.plans.job import CrawlJob

        return CrawlJob(seeds=self.seeds, engines=None)

    def table_io(self):
        from doonop_spark.sources.tables import MemoryTableIO

        return MemoryTableIO()

    def state_mb(self) -> float:
        """Cached and checkpointed blocks held by the session."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class CrawlScale(Crawl):
    name = "crawl_scale"
    hosts = 48
    pages_per_host = 3  # two BFS levels of 1 and 2 pages: two waves
    buckets = 16
    wave_seconds = 30.0
    hot_slots = 2  # host 0's Crawl-delay admits two pages a wave
    n_faults = 8

    def __init__(self, spark, seed, work):
        super().__init__(spark, seed, work)
        rng = self.rng
        self.disallow_host = rng.randrange(1, self.hosts)
        # the p2 pages of some hosts are seeded and time out in wave 1; their
        # retry in wave 2 is the wave p2 is fetched in everywhere else, so
        # retries add no wave
        self.faults = {self.url(h, 2) for h in rng.sample(range(1, self.hosts), self.n_faults)}
        # host 0 is the hot host: all three of its pages are seeds, two
        # are fetched in wave 1 and one is deferred to wave 2
        self.seeds += [self.url(0, p) for p in range(1, self.pages_per_host)]
        self.seeds += sorted(self.faults)

    def allowed(self, url: str) -> bool:
        parts = urlsplit(url)
        return not (
            parts.hostname == self.host(self.disallow_host)
            and parts.path.startswith("/p1")
        )

    def _write_corpus(self, df: DataFrame) -> None:
        from doonop_spark.sources.corpus import read_bucketed_corpus, write_bucketed_corpus

        path = os.path.join(self.work, "corpus_bucketed")
        write_bucketed_corpus(df, path, n_buckets=self.buckets)
        self.corpus = read_bucketed_corpus(self.spark, path)
        rows = []
        for h in range(self.hosts):
            body = "User-agent: *\n"
            if h == self.disallow_host:
                body += "Disallow: /p1\n"
            if h == 0:
                body += f"Crawl-delay: {self.wave_seconds / self.hot_slots}\n"
            rows.append((self.host(h), body))
        self.robots = self.spark.createDataFrame(rows, "host string, robots_txt string")
        self.fault_frame = self.spark.createDataFrame(
            [(u, 1, "timeout") for u in sorted(self.faults)],
            "url string, attempt int, fault string",
        )

    def job(self):
        from doonop_spark.plans.job import CrawlJob

        return CrawlJob(
            seeds=self.seeds,
            engines=None,
            wave_seconds=self.wave_seconds,
            use_robots=True,
            corpus_cache_max_bytes=0,
            bloom_partitions=self.n,
            bloom_expected_per_partition=max(self.n_pages // self.n, 1024),
            bloom_probe_mode="copartition",
            # An engine defect sets this, not a choice of configuration:
            # SnapshotTableIO deletes every snapshot older than the previous
            # wave, but the bloom's uncovered tail still reads the new_links
            # snapshots of every wave since the last fold, so the default of
            # folding every 4 waves fails on wave 4 with missing files.
            # Folding every 2 waves is the most that works today: wave 2
            # probes the bank and the uncovered tail, then folds.
            bloom_fold_every=2,
        )

    def table_io(self):
        from doonop_spark.sources.tables import SnapshotTableIO

        self.snap_root = os.path.join(self.work, f"snapshots-{self.runs}")
        shutil.rmtree(self.snap_root, ignore_errors=True)
        return SnapshotTableIO(self.snap_root)

    def state_mb(self) -> float:
        """Bytes the run left under its snapshot root, which is then
        removed. Called after the run's timing has stopped."""
        total = 0
        for d, _, files in os.walk(self.snap_root):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        shutil.rmtree(self.snap_root, ignore_errors=True)
        return total / 2**20


# ---- text dedup ---------------------------------------------------------------


def _shingles(text: str, k: int = 5) -> frozenset[str]:
    """Python twin of ``functions.text.word_shingles_expr`` for
    whitespace-separated words."""
    words = text.split()
    if not words:
        return frozenset()
    if len(words) <= k:
        return frozenset([" ".join(words)])
    return frozenset(" ".join(words[i : i + k]) for i in range(len(words) - k + 1))


class TextDedup:
    """Documents are random word sequences over a 5,000-word vocabulary;
    about a quarter copy an earlier original, half of those with the last
    word replaced. A replaced last word changes one shingle, so every
    near-duplicate pair keeps Jaccard above 0.95 and every other pair stays
    near 0, far from the 0.8 threshold on both sides: the MinHash estimate
    (128 hashes, 32 bands) then lands on the exact answer except with
    probability below 1e-9 per pair. ``prepare`` refuses inputs with a pair
    between 0.3 and 0.9."""

    name = "text_dedup"
    # a run takes 3 to 5 s, so a 10 s measurement may end after two; the
    # median of three leaves out one slow run
    min_runs = 3
    n_docs = 800
    vocab = 5000
    words = (40, 80)
    k = 5
    threshold = 0.8

    def __init__(self, spark: SparkSession, seed: int, work: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n = spark.sparkContext.defaultParallelism
        self.path = os.path.join(work, "documents")

    def _generate(self):
        import pandas as pd

        rng = random.Random(self.seed)
        vocab = [f"w{i}" for i in range(self.vocab)]
        rows, originals = [], []
        for i in range(self.n_docs):
            if originals and rng.random() < 0.25:
                words = rows[rng.choice(originals)][1].split()
                if rng.random() < 0.5:
                    words[-1] = rng.choice(vocab)
            else:
                words = [rng.choice(vocab) for _ in range(rng.randint(*self.words))]
                originals.append(i)
            text = " ".join(words)
            rows.append((i, text, rng.choice(["en", "de", "fr"]), f"src{i % 7}", len(text)))
        return pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])

    def prepare(self) -> None:
        pdf = self._generate()
        self.spark.createDataFrame(pdf).write.mode("overwrite").parquet(self.path)
        sh = {int(i): _shingles(t, self.k) for i, t in zip(pdf.doc_id, pdf.text)}
        index: dict[str, list[int]] = {}
        for i, s in sh.items():
            for g in s:
                index.setdefault(g, []).append(i)
        cand = {(a, b) for ids in index.values() for a in ids for b in ids if a < b}
        jaccard, edges = set(), []
        for a, b in cand:
            shared = len(sh[a] & sh[b])
            na, nb = len(sh[a]), len(sh[b])
            j = shared / (na + nb - shared)
            if 0.3 < j < 0.9:
                raise RuntimeError(f"docs {a},{b} have Jaccard {j:.3f}, too near the threshold")
            if shared * 1_000_000 >= int(round(self.threshold * 1_000_000)) * (na + nb - shared):
                jaccard.add((a, b, shared, na, nb))
                edges.append((a, b))
        # keeper of each cluster = its minimum id (union-find)
        parent = {i: i for i in sh}

        def root(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for a, b in edges:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
        self.expected = {
            "pairs": {(a, b) for a, b in edges},
            "kept": {i for i in sh if root(i) == i},
            "jaccard": jaccard,
        }

    def sizes(self) -> dict:
        return {
            "documents": self.n_docs,
            "expected_pairs": len(self.expected["pairs"]),
            "expected_kept": len(self.expected["kept"]),
        }

    def warm(self) -> None:
        """The measured pipeline once, unchecked. The first measured run
        can still be the slowest; ``min_runs`` leaves it out of the median."""
        self._pipeline(NoTrace(), self._docs())

    def _docs(self) -> DataFrame:
        return self.spark.read.parquet(self.path).repartition(self.n)

    def run(self, trace) -> dict:
        got_pairs, kept, jac = self._pipeline(trace, self._docs())
        problems = [
            f"{what}: {len(got)} rows, expected {len(self.expected[what])}"
            for what, got in (("pairs", got_pairs), ("kept", kept), ("jaccard", jac))
            if got != self.expected[what]
        ]
        return {
            "ok": not problems,
            "problems": problems,
            "items": self.n_docs,
            "candidates": len(got_pairs),
            "kept": len(kept),
            "jaccard_pairs": len(jac),
        }

    def _pipeline(self, trace, docs: DataFrame):
        from doonop_spark.operators.textdedup import (
            dedup_keep,
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
        )

        with trace.span("minhash_pairs"):
            pairs = minhash_lsh_pairs(
                docs, "doc_id", "text", k=self.k, threshold=self.threshold
            ).localCheckpoint(eager=True)
            got_pairs = {(r.id_a, r.id_b) for r in pairs.select("id_a", "id_b").collect()}
        with trace.span("keep"):
            kept = {r.doc_id for r in dedup_keep(docs, pairs, "doc_id").select("doc_id").collect()}
        with trace.span("jaccard"):
            jac = {
                tuple(r)
                for r in ngram_jaccard_pairs(
                    docs, "doc_id", "text", k=self.k, threshold=self.threshold
                )
                .select("id_a", "id_b", "shared", "n_a", "n_b")
                .collect()
            }
        return got_pairs, kept, jac


WORKLOADS = {w.name: w for w in (CrawlCached, CrawlScale, TextDedup)}
