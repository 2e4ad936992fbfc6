"""CLI --wat-out and --transcode: the WAT metadata sink over visited
pages, and charset transcoding on the WARC corpus path."""

from __future__ import annotations

from doonop_spark.sources.corpus import fixture_site_corpus
from doonop_spark.sources.warc import write_warc
from tests.test_cli import run_cli


def test_cli_wat_out_sink(spark, tmp_path):
    """--wat-out: every visited page gets one WAT metadata record whose
    links are the page's extracted (absolutized) outlinks; stdout/stderr
    goldens unchanged."""
    from doonop_spark.sources.wat import read_wat

    cpath = str(tmp_path / "fixture.parquet")
    fixture_site_corpus(spark).write.parquet(cpath)
    wat_dir = str(tmp_path / "wat")
    p = run_cli(
        ["--corpus", cpath, "--wat-out", wat_dir,
         "http://localhost:8000/basic/index.html"]
    )
    assert p.returncode == 0, p.stderr[-500:]
    assert p.stderr.endswith(
        "Statistics: visited 2, collected 2, errors 0, retries 0\n"
    ), p.stderr[-500:]
    rows = {r.url: r for r in read_wat(spark, wat_dir + "/*.warc.wat.gz").collect()}
    assert set(rows) == {
        "http://localhost:8000/basic/index.html",
        "http://localhost:8000/basic/about.html",
    }
    # index links to ./about.html, absolutized by the kernel; about has none
    assert rows["http://localhost:8000/basic/index.html"].links == [
        "http://localhost:8000/basic/about.html"
    ]
    assert rows["http://localhost:8000/basic/about.html"].links == []
    assert all(r.status == 200 for r in rows.values())


def test_cli_wat_out_latest_capture_only(spark, tmp_path):
    """With revisits in a WARC corpus, --wat-out emits ONE record per
    visited URL (latest capture), like the WET sink. Two captures of one
    URL with the same ``warc_ts`` (stored in either order) yield the
    record of the capture the crawl fetched and collected: the fetch and
    the sink apply one revisit rule."""
    import json
    import re

    from doonop_spark.sources.wat import read_wat

    def page(links, text):
        body = "".join(f'<a href="{u}">x</a>' for u in links)
        return f"<html><body>{body}<main>{text}</main></body></html>".encode()

    recs = [
        (r.url, "2024-01-01T00:00:00Z", bytes(r.html))
        for r in fixture_site_corpus(spark).orderBy("url").collect()
    ]
    about = next(r for r in recs if r[0].endswith("about.html"))
    recs.append((about[0], "2024-06-30T12:00:00Z", about[2]))
    ts = "2024-01-01T00:00:00Z"
    tied = [f"http://t.example/u{i}" for i in range(4)]
    recs.append(("http://t.example/", ts, page(tied, "seed")))
    for i, u in enumerate(tied):
        caps = [(u, ts, page([f"{u}-{x}-out"], f"u{i}-{x}")) for x in "AB"]
        recs += caps if i % 2 == 0 else caps[::-1]
    wpath = str(tmp_path / "revisits.warc.gz")
    write_warc(wpath, recs)
    wat_dir = str(tmp_path / "wat")
    js = tmp_path / "collect_text.js"
    js.write_text("return document.body.innerText\n")  # → the page's <main> text
    p = run_cli(
        ["--corpus", wpath, "--wat-out", wat_dir, "--check-file", str(js), "-j", "8",
         "http://localhost:8000/basic/index.html", "http://t.example/"]
    )
    assert p.returncode == 0, p.stderr[-500:]
    rows = read_wat(spark, wat_dir + "/*.warc.wat.gz").collect()
    seen = {}
    for r in rows:
        assert r.url not in seen, f"duplicate WAT record for {r.url}"
        seen[r.url] = r
    assert seen["http://localhost:8000/basic/about.html"].warc_ts.month == 6
    collected = [json.loads(ln) for ln in p.stdout.splitlines()]
    fetched = {tied[int(v[1])]: v[3] for v in collected if re.fullmatch(r"u\d-[AB]", v)}
    assert len(fetched) == 4
    for u, x in fetched.items():
        assert seen[u].links == [f"{u}-{x}-out"], (u, x, seen[u].links)


def test_cli_transcode_flag(spark, tmp_path):
    """--transcode on a WARC corpus: a windows-1252 page's collected TEXT
    (side program text()) comes out as true unicode."""
    legacy_main = "côté – “fancy” text"
    html = (
        '<html><head><meta charset="windows-1252"></head>'
        f"<body><main>{legacy_main}</main></body></html>"
    ).encode("windows-1252")
    wpath = str(tmp_path / "legacy.warc.gz")
    write_warc(wpath, [("http://l.example/", "2024-01-01T00:00:00Z", html)])
    js = tmp_path / "collect_text.js"
    js.write_text("return document.body.innerText\n")  # → flagship text
    base = ["--corpus", wpath, "--check-file", str(js), "http://l.example/"]

    raw = run_cli(base)
    assert raw.returncode == 0, raw.stderr[-500:]
    assert "fancy" not in raw.stdout or "“fancy”" not in raw.stdout

    fixed = run_cli(["--transcode", *base])
    assert fixed.returncode == 0, fixed.stderr[-500:]
    assert "“fancy”" in fixed.stdout and "côté" in fixed.stdout
