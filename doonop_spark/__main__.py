"""``python -m doonop_spark`` — the executable entry (SURVEY.md §2.2
K1/K2 + §3.1; reference ``src/main.rs:18-48``).

Reproduces the reference sink contract byte-for-byte:

- stdout: each collected value, one JSON document per line, in COLLECTION
  order (``src/main.rs:36-38`` — ours is ``ORDER BY iteration,
  dispatch_rank``, the deterministic analog of the reference's
  completion order);
- stderr: the summary line ``Statistics: visited N, collected N,
  errors N, retries N`` (``src/main.rs:31-34``; golden asserted by
  ``tests/crawling.rs:8-22``);
- exit code 0 even for empty seeds (``tests/crawling.rs:4-11``).

The reference fetches live pages; this engine fetches by joining a page
corpus, so the one extension flag is ``--corpus`` (parquet path — plain or
bucket-partitioned via ``write_bucketed_corpus``, whose layout carries its
bucket count so fetches prune by it — or WARC archives). This module parses
only inputs and sinks; every flag that sets a ``CrawlJob`` field, all
reference CLI options included, is parsed by ``job_from_argv`` (C1,
src/cfg.rs:25-98). Ctrl-c maps to the graceful drain-and-commit cancel
(X3, src/main.rs:41-48).

Cluster deployment: ``spark-submit --py-files doonop_spark.zip
doonop_spark/__main__.py --corpus <iceberg/parquet path> <seeds...>`` —
the session builder sets no master, so spark-submit's ``--master``
applies; from plain python the session runs on ``local[*]``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import signal
import sys
import threading

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from doonop_spark.plans.job import job_from_argv
from doonop_spark.plans.loop import run_crawl
from doonop_spark.sources.corpus import latest_capture, read_bucketed_corpus
from doonop_spark.sources.tables import open_table_io
from doonop_spark.sources.warc import _local_path


def _builder():
    # no master here: under spark-submit its --master applies, and from
    # plain python pyspark's launcher defaults to local[*]
    return (
        SparkSession.builder.appName("doonop-spark")
        .config("spark.sql.shuffle.partitions", os.environ.get("DOONOP_SHUFFLE_PARTITIONS", "32"))
        .config("spark.ui.showConsoleProgress", "false")
    )


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    ext = argparse.ArgumentParser(add_help=False)
    ext.add_argument("--corpus", required=True, help="pages corpus parquet path")
    ext.add_argument("--robots-table", help="parquet path of (host, robots_txt)")
    # the reference ships sitemap seeding as scripts/sitemap.sh (robots.txt
    # Sitemap: lines → xpath //loc); this runs the same expansion natively
    ext.add_argument("--sitemap-seeds", action="store_true")
    ext.add_argument("--table-root", help="durable checkpoint dir (resumable)")
    ext.add_argument("--resume", action="store_true")
    # training-pipeline hand-off: also write collected results as WET
    # archives (conversion records; sources/warc.py) under this directory
    ext.add_argument("--wet-out")
    # link-graph hand-off: also write the visited pages' WAT metadata
    # records (JSON envelope with extracted outlinks; sources/wat.py)
    ext.add_argument("--wat-out")
    # WHATWG charset sniff + legacy-page transcode for WARC corpora
    # (functions/encoding.py) — real Common Crawl segments are several
    # percent non-UTF-8; parquet corpora are assumed pre-decoded
    ext.add_argument("--transcode", action="store_true")
    ours, rest = ext.parse_known_args(argv)

    job = job_from_argv(rest)

    # --use_robots_txt without a robots table would silently not gate at
    # all (robots_gate's table-missing semantics are per-HOST fetch-error
    # skips, not engine-wide bypass) — refuse loudly instead
    if job.use_robots and not ours.robots_table:
        print(
            "error: --use_robots_txt needs --robots-table <parquet of "
            "(host, robots_txt)> — a corpus-join engine has no live "
            "robots fetch; without the table every host would either be "
            "silently skipped or silently admitted",
            file=sys.stderr,
        )
        return 2
    if ours.sitemap_seeds and not ours.robots_table:
        print(
            "error: --sitemap-seeds needs --robots-table (Sitemap: "
            "declarations come from robots.txt, scripts/sitemap.sh:12)",
            file=sys.stderr,
        )
        return 2

    # archives are read and written through a mounted filesystem; refuse
    # any other scheme now rather than after Spark (or the crawl) started
    warc = ".warc" in ours.corpus.rsplit("/", 1)[-1]
    for flag, path in (
        ("--corpus", ours.corpus if warc else None),
        ("--wet-out", ours.wet_out),
        ("--wat-out", ours.wat_out),
    ):
        if not path:
            continue
        try:
            _local_path(path)
        except NotImplementedError as e:
            print(f"error: {flag}: {e}", file=sys.stderr)
            return 2

    spark = _builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if warc:
        # Common Crawl's native format: .warc/.warc.gz archives (or a
        # glob of them) parse straight into the corpus shape — one task
        # per archive file (sources/warc.py)
        from doonop_spark.sources.warc import warc_corpus

        corpus = warc_corpus(spark, ours.corpus, transcode=ours.transcode)
        # WARC archives may hold several captures (revisits) of one URL;
        # the fetch keeps the latest capture per URL
        job = dataclasses.replace(job, dedup_captures=True)
    else:
        # a bucketed layout carries its bucket count (sidecar → column
        # metadata), so the fetch prunes by it; plain corpora fall through
        # to a bare read
        corpus = read_bucketed_corpus(spark, ours.corpus)
    robots = (
        spark.read.parquet(ours.robots_table) if ours.robots_table else None
    )
    seed_urls = None
    if ours.sitemap_seeds:
        # distributed S6: sitemap <loc> seeds stay a DataFrame all the way
        # into the wave-0 frontier (a million-entry sitemap never becomes
        # a driver list); cleaning/dedup/seq happen Spark-side in
        # seed_frontier_distributed
        from doonop_spark.sources.sitemap import (
            expand_sitemaps,
            sitemap_urls_from_robots,
        )

        seed_urls = expand_sitemaps(sitemap_urls_from_robots(robots), corpus)
    io = (
        open_table_io("snapshot", ours.table_root) if ours.table_root else None
    )

    # ctrl-c analog (src/main.rs:41-48): stop enqueueing, drain the wave,
    # commit — everything collected so far is still printed
    cancel = threading.Event()
    try:
        signal.signal(signal.SIGINT, lambda *_: cancel.set())
    except ValueError:
        pass  # not the main thread (e.g. under a test harness)

    res = run_crawl(
        spark,
        job,
        corpus,
        robots=robots,
        seed_urls=seed_urls,
        io=io,
        resume=ours.resume,
        cancel=cancel,
    )

    if ours.wet_out or ours.wat_out:
        # the visited pages' captures, picked by the fetch's own revisit
        # rule, so each sink record describes the capture the crawl
        # collected and a revisited URL yields exactly one record
        visited = res.results.select("url").distinct()
        captures = latest_capture(corpus.join(visited.hint("broadcast"), "url", "left_semi"))
    if ours.wet_out:
        # WET sink: each collected value becomes a conversion record,
        # stamped with the page's capture time (K1's stdout contract is
        # unchanged — this is an ADDITIONAL sink)
        from doonop_spark.sources.warc import write_wet

        wet_rows = res.results.select("url", "data").join(
            captures.select("url", "warc_ts"), "url", "left"
        )
        write_wet(wet_rows, ours.wet_out, text_col="data")
    if ours.wat_out:
        # WAT sink: metadata (extracted outlinks, HTTP metadata) for every
        # VISITED page — the link-graph hand-off
        from doonop_spark.sources.wat import write_wat

        write_wat(captures, ours.wat_out)

    # materialize the ordered values BEFORE stopping spark, emit AFTER —
    # Spark writes its own shutdown logs to stderr, and the reference's
    # golden asserts stderr *ends with* the stats line
    # (tests/crawling.rs:8-10); the reference likewise holds Vec<Value> in
    # driver RAM before printing (src/lib.rs:96-99)
    values = [
        row[0]
        for row in res.results.orderBy(F.asc("iteration"), F.asc("dispatch_rank"))
        .select("data")
        .toLocalIterator()
    ]
    spark.stop()

    # K2 (src/main.rs:31-34) — the final stderr line
    s = res.stats
    print(
        f"Statistics: visited {s.count_visited}, collected {s.count_collected}, "
        f"errors {s.count_errors}, retries {s.count_retries}",
        file=sys.stderr,
    )
    # K1: one JSON value per line in collection order; a None data value is
    # the reference's collected json!(null) (src/lib.rs:125-133)
    for v in values:
        sys.stdout.write(json.dumps(v, ensure_ascii=False) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
