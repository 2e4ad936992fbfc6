"""CLI integration goldens — subprocess ports of the reference's
``tests/crawling.rs`` battery (stderr stats line + stdout JSON-per-line),
plus unit tests of the Side-program subset interpreter (P3) and the
collected-null semantics (src/lib.rs:125-133)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from doonop_spark.functions.side import (
    parse_side_program,
    run_side_program,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# semantic port of tests/resources/default.side.json:10-18 — a single
# `store` command putting the literal "THE RESULT" into variable RESULT
SIDE_PROGRAM = json.dumps(
    {
        "id": "t",
        "version": "2.0",
        "name": "test",
        "url": "http://localhost/",
        "tests": [
            {
                "id": "t1",
                "name": "",
                "commands": [
                    {"id": "c1", "command": "store", "target": "THE RESULT", "value": "RESULT"}
                ],
            }
        ],
        "suites": [{"id": "s1", "name": "Default Suite", "tests": ["t1"]}],
    }
)


def run_cli(args, cwd=REPO, timeout=300):
    env = dict(os.environ, PYTHONPATH=REPO)
    return subprocess.run(
        [sys.executable, "-m", "doonop_spark", *args],
        capture_output=True,
        text=True,
        cwd=cwd,
        env=env,
        timeout=timeout,
    )


@pytest.fixture(scope="module")
def fixture_corpus_path(spark, tmp_path_factory):
    from doonop_spark.sources.corpus import fixture_site_corpus

    path = str(tmp_path_factory.mktemp("cli") / "fixture.parquet")
    fixture_site_corpus(spark).write.parquet(path)
    return path


def test_cli_no_urls(fixture_corpus_path):
    # tests/crawling.rs:4-11 — no seeds: exit 0, zero stats
    p = run_cli(["--corpus", fixture_corpus_path])
    assert p.returncode == 0
    assert p.stderr.endswith(
        "Statistics: visited 0, collected 0, errors 0, retries 0\n"
    ), p.stderr[-500:]
    assert p.stdout == ""


def test_cli_basic_golden(fixture_corpus_path):
    # tests/crawling.rs:13-23 — the 2-page fixture site
    p = run_cli(
        ["--corpus", fixture_corpus_path, "http://localhost:8000/basic/index.html"]
    )
    assert p.returncode == 0
    assert p.stderr.endswith(
        "Statistics: visited 2, collected 2, errors 0, retries 0\n"
    ), p.stderr[-500:]
    lines = p.stdout.splitlines()
    assert len(lines) == 2
    # no --check-file ⇒ the reference's default program
    # `return window.location.href` (src/cfg.rs:344-346): data = page URL,
    # printed as JSON in collection order (seed first, then its link)
    assert json.loads(lines[0]) == "http://localhost:8000/basic/index.html"
    assert json.loads(lines[1]) == "http://localhost:8000/basic/about.html"


def test_cli_scale_knobs_identical_output(fixture_corpus_path):
    # --bloom-partitions / --seen-compact-every change only the physical
    # seen-set strategy; stdout (collection order) and the stats line must
    # be byte-identical to the plain run.
    plain = run_cli(
        ["--corpus", fixture_corpus_path, "http://localhost:8000/basic/index.html"]
    )
    knobs = run_cli(
        [
            "--corpus",
            fixture_corpus_path,
            "--bloom-partitions",
            "8",
            "--seen-compact-every",
            "2",
            "http://localhost:8000/basic/index.html",
        ]
    )
    assert knobs.returncode == 0
    assert knobs.stdout == plain.stdout
    assert knobs.stderr.endswith(
        "Statistics: visited 2, collected 2, errors 0, retries 0\n"
    ), knobs.stderr[-500:]
    # --retry-clock wall + the reference's ms threshold (src/retry.rs):
    # with no faults the schedule is identical — the flag must parse and
    # the output stay byte-identical
    wall = run_cli(
        [
            "--corpus",
            fixture_corpus_path,
            "--retry-clock",
            "wall",
            "--retry_threshold",
            "5000",
            "http://localhost:8000/basic/index.html",
        ]
    )
    assert wall.returncode == 0
    assert wall.stdout == plain.stdout
    assert wall.stderr.endswith(
        "Statistics: visited 2, collected 2, errors 0, retries 0\n"
    ), wall.stderr[-500:]


def test_cli_robots_table_gates_links(fixture_corpus_path, spark, tmp_path):
    # --robots-table + --use-robots-txt through the CLI: the about page is
    # disallowed, so it is silently skipped (never fetched, still marked
    # seen) — visited/collected drop to 1 and stdout carries only the seed.
    robots = tmp_path / "robots.parquet"
    spark.createDataFrame(
        [("localhost", "User-agent: *\nDisallow: /basic/about.html\n")],
        "host string, robots_txt string",
    ).write.parquet(str(robots))
    p = run_cli(
        [
            "--corpus",
            fixture_corpus_path,
            "--robots-table",
            str(robots),
            "--use-robots-txt",
            "http://localhost:8000/basic/index.html",
        ]
    )
    assert p.returncode == 0
    assert p.stderr.endswith(
        "Statistics: visited 1, collected 1, errors 0, retries 0\n"
    ), p.stderr[-500:]
    assert [json.loads(l) for l in p.stdout.splitlines()] == [
        "http://localhost:8000/basic/index.html"
    ]


def test_cli_side_file_golden(fixture_corpus_path, tmp_path):
    # tests/crawling.rs:25-41 — side program output contains THE RESULT
    side = tmp_path / "default.side.json"
    side.write_text(SIDE_PROGRAM)
    p = run_cli(
        [
            "--corpus",
            fixture_corpus_path,
            "--check-file",
            str(side),
            "--check-file-format",
            "side",
            "http://localhost:8000/basic/index.html",
        ]
    )
    assert p.returncode == 0
    assert p.stderr.endswith(
        "Statistics: visited 2, collected 2, errors 0, retries 0\n"
    ), p.stderr[-500:]
    assert "THE RESULT" in p.stdout
    assert [json.loads(l) for l in p.stdout.splitlines()] == [
        "THE RESULT",
        "THE RESULT",
    ]


# ---------------------------------------------------------------------------
# Side interpreter unit tests (no subprocess)
# ---------------------------------------------------------------------------

def test_parse_side_program_golden():
    cmds = parse_side_program(SIDE_PROGRAM)
    assert cmds == [{"command": "store", "target": "THE RESULT", "value": "RESULT"}]


def test_parse_side_rejects_unsupported():
    bad = json.dumps(
        {
            "tests": [
                {"id": "t", "commands": [{"command": "click", "target": "x", "value": ""}]}
            ]
        }
    )
    with pytest.raises(ValueError, match="click"):
        parse_side_program(bad)


def test_run_side_program_commands():
    html = "<html><head><title>A &amp; B</title></head><body><main>Hi <b>there</b></main></body></html>"
    cmds = parse_side_program(
        json.dumps(
            {
                "tests": [
                    {
                        "id": "t",
                        "commands": [
                            {"command": "open", "target": "/", "value": ""},
                            {"command": "storeTitle", "target": "", "value": "ttl"},
                            {"command": "storeText", "target": "css=main", "value": "txt"},
                            {"command": "store", "target": "${ttl}|${txt}", "value": "RESULT"},
                        ],
                    }
                ]
            }
        )
    )
    assert run_side_program(cmds, "http://x/", html) == "A & B|Hi there"


def test_recognized_js_programs(spark, tmp_path):
    """S3/P2: the document-shaped JS one-liners the engine can honestly
    evaluate without a browser — document.title and outerHTML — map to
    JVM expressions over the fetched page; anything else falls back to the
    registered-extraction surface (flagship text)."""
    from doonop_spark.plans.job import CrawlJob, job_from_argv
    from doonop_spark.plans.loop import run_crawl
    from doonop_spark.sources.corpus import fixture_site_corpus

    js = tmp_path / "title.js"
    js.write_text("return document.title;")
    job = job_from_argv(["--check-file", str(js), "http://localhost:8000/basic/index.html"])
    assert job.check == "title"
    res = run_crawl(spark, job, fixture_site_corpus(spark))
    got = {r.url: r.data for r in res.results.collect()}
    assert got == {
        "http://localhost:8000/basic/index.html": "Index",
        "http://localhost:8000/basic/about.html": "About",
    }

    js2 = tmp_path / "other.js"
    js2.write_text("return document.querySelector('p').innerText;")
    assert job_from_argv(["--check-file", str(js2), "http://x/"]).check == "text"


def test_side_null_is_collected(spark):
    """src/lib.rs:125-133: a program that never stores RESULT collects
    json null — the row still lands and counts toward collected/limit."""
    from doonop_spark.plans.job import CrawlJob
    from doonop_spark.plans.loop import run_crawl
    from doonop_spark.sources.corpus import fixture_site_corpus

    prog = json.dumps(
        {"tests": [{"id": "t", "commands": [{"command": "open", "target": "/", "value": ""}]}]}
    )
    job = CrawlJob(
        seeds=["http://localhost:8000/basic/index.html"],
        engines=1,
        check="side",
        side_program=prog,
    )
    res = run_crawl(spark, job, fixture_site_corpus(spark))
    rows = res.results.collect()
    assert res.stats.count_collected == 2  # nulls count toward the limit
    assert len(rows) == 2
    assert all(r.data is None for r in rows)  # collected value is null


def test_builder_respects_configured_master():
    """spark-submit --master yarn sets the spark.master SparkConf system
    property, and builder.master() would win over it — so the session
    builder sets no master at all (plain python defaults to local[*])."""
    from doonop_spark.__main__ import _builder

    assert "spark.master" not in _builder()._options


def test_cli_use_robots_requires_table(fixture_corpus_path):
    """--use_robots_txt with no --robots-table must fail loudly (exit 2),
    not silently crawl ungated."""
    proc = run_cli(
        [
            "--corpus", fixture_corpus_path,
            "--use_robots_txt",
            "http://localhost:8000/basic/index.html",
        ]
    )
    assert proc.returncode == 2
    assert "--robots-table" in proc.stderr


@pytest.mark.parametrize("flag", ["--wet-out", "--wat-out", "--corpus"])
def test_cli_foreign_sink_scheme_fails_before_spark(monkeypatch, capsys, flag):
    """A sink URI the archive writers cannot open, or a .warc corpus the
    archive readers cannot open, exits 2 with an error before a Spark
    session starts, not after the whole crawl has run."""
    import doonop_spark.__main__ as cli

    def no_session():
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(cli, "_builder", no_session)
    uri = "hdfs://nn/crawl/*.warc.gz" if flag == "--corpus" else "hdfs://nn/out"
    rc = cli.main(
        ["--corpus", "unused.parquet", flag, uri, "http://h.example/"]
    )
    assert rc == 2
    err = capsys.readouterr().err
    assert err.startswith(f"error: {flag}") and "hdfs://" in err


def test_cli_sitemap_seeds(spark, tmp_path):
    """--sitemap-seeds: robots Sitemap: declarations → sitemap XML in the
    corpus → <loc> URLs become seeds (the reference's scripts/sitemap.sh
    pipeline, run natively). Without --robots-table it refuses."""
    from pyspark.sql import functions as _F

    host = "s.example"
    pages = {
        f"http://{host}/a": "<main>A</main>",
        f"http://{host}/b": "<main>B</main>",
        f"http://{host}/sitemap.xml": (
            "<urlset><url><loc>http://s.example/a</loc></url>"
            f"<url><loc>http://{host}/b</loc></url></urlset>"
        ),
    }
    corpus = spark.createDataFrame(
        list(pages.items()), "url string, body string"
    ).select(
        "url",
        _F.to_timestamp(_F.lit("2024-01-01")).alias("warc_ts"),
        _F.encode(
            _F.concat(_F.lit("<html><body>"), _F.col("body"), _F.lit("</body></html>")),
            "utf-8",
        ).alias("html"),
        _F.lit("").alias("text"),
        _F.lit("en").alias("lang"),
    )
    cpath = str(tmp_path / "c.parquet")
    corpus.write.parquet(cpath)
    robots = spark.createDataFrame(
        [(host, f"User-agent: *\nAllow: /\nSitemap: http://{host}/sitemap.xml\n")],
        "host string, robots_txt string",
    )
    rpath = str(tmp_path / "r.parquet")
    robots.write.parquet(rpath)

    proc = run_cli(
        ["--corpus", cpath, "--robots-table", rpath, "--sitemap-seeds"]
    )
    assert proc.returncode == 0, proc.stderr[-500:]
    assert proc.stderr.rstrip().splitlines()[-1] == (
        "Statistics: visited 2, collected 2, errors 0, retries 0"
    )
    # default check program ≡ identity on the page url (src/cfg.rs:344)
    assert sorted(json.loads(l) for l in proc.stdout.splitlines()) == [
        "http://s.example/a",
        "http://s.example/b",
    ]

    bad = run_cli(["--corpus", cpath, "--sitemap-seeds"])
    assert bad.returncode == 2
    assert "--robots-table" in bad.stderr


def test_cli_bucketed_corpus_sidecar(fixture_corpus_path, spark, tmp_path):
    """The CLI loads the corpus via read_bucketed_corpus, so a layout
    written by write_bucketed_corpus crawls with B taken from its sidecar
    (pruned fetches) and the same output as the plain corpus."""
    from doonop_spark.sources.corpus import write_bucketed_corpus

    bucketed = str(tmp_path / "bucketed_corpus")
    write_bucketed_corpus(spark.read.parquet(fixture_corpus_path), bucketed, n_buckets=8)

    plain = run_cli(
        ["--corpus", fixture_corpus_path, "http://localhost:8000/basic/index.html"]
    )
    derived = run_cli(
        ["--corpus", bucketed, "http://localhost:8000/basic/index.html"]
    )
    assert derived.returncode == 0
    assert derived.stdout == plain.stdout
    assert derived.stderr.endswith(
        "Statistics: visited 2, collected 2, errors 0, retries 0\n"
    ), derived.stderr[-500:]
