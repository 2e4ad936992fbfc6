"""CrawlJob — the logical plan (SURVEY.md §2.11 C1-C4; reference
``CrawlConfig`` at ``src/lib.rs:28-41``, CLI schema ``src/cfg.rs:25-98``).

Also carries the reference's CLI-fidelity pure parsers (proxy spec, retry
policy, browser). The proxy and browser flags have no effect on a
corpus-join fetch, so no job field holds them, but ``job_from_argv``
validates them exactly as the reference does (golden tests ported from
``src/cfg.rs:352-397``).
"""

from __future__ import annotations

import argparse
from dataclasses import dataclass, field, fields
from enum import Enum

from doonop_spark.operators.filters import (
    Filter,
    RegexFilter,
    parse_filter_spec,
    squash_filters,
)
from doonop_spark.operators.robots import DEFAULT_ROBOT

__all__ = [
    "RetryPolicy",
    "CrawlJob",
    "parse_retry_policy",
    "parse_proxy",
    "parse_browser",
    "open_code_file",
    "job_from_argv",
]

# the reference's default check program (src/cfg.rs:344-346): identity on
# the page URL. Our flagship program is 'text' (input_hint: byte-identical
# extracted text per url).
DEFAULT_CODE = "return window.location.href"


def open_code_file(path: str | None, fmt: str | None = None) -> tuple[str, str]:
    """S3 — check-file scan with the reference's format sniffing
    (src/cfg.rs:162-183): explicit ``--check-file-format`` first
    ('side'/'json' ⇒ side, 'js' ⇒ js), then the extension; neither ⇒ hard
    error. Returns (program_text, 'js'|'side'). The program text selects a
    registered extraction; 'js' text equal to the default program maps to
    the identity-on-url Column (``check='url'``)."""
    if path is None:
        return DEFAULT_CODE, "js"
    with open(path) as f:
        content = f.read()
    if fmt in ("side", "json"):
        t = "side"
    elif fmt == "js":
        t = "js"
    elif path.endswith(".js"):
        t = "js"
    elif path.endswith(".side") or path.endswith(".json"):
        t = "side"
    else:
        raise ValueError("Failed to determine a format of a check file")
    return content, t


class RetryPolicy(str, Enum):
    FIRST = "first"
    LAST = "last"
    NO = "no"


def parse_retry_policy(s: str) -> RetryPolicy:
    """src/cfg.rs:228-239 — accepted spellings."""
    if s in ("no", "No", "off", "Off"):
        return RetryPolicy.NO
    if s in ("first", "First"):
        return RetryPolicy.FIRST
    if s in ("last", "Last"):
        return RetryPolicy.LAST
    raise ValueError(f"invalid retry policy: {s!r}")


def parse_browser(s: str) -> str:
    """src/cfg.rs:216-226 — kept for CLI fidelity; a config no-op here."""
    if s in ("Firefox", "firefox", "geckodriver"):
        return "firefox"
    if s in ("Chrome", "chrome", "chromedriver"):
        return "chrome"
    raise ValueError(f"invalid browser: {s!r}")


def parse_proxy(s: str) -> dict | None:
    """Proxy spec parser (src/cfg.rs:300-328), pure-function port with the
    reference's golden semantics: ``kind;k=v;k=v``; returns None on any
    missing required key (the reference's Option::None)."""
    parts = [p for p in s.split(";") if p != ""] if ";" in s else [s]
    if not parts:
        return None
    kind = parts[0]
    kv: dict[str, str] = {}
    for item in parts[1:]:
        if "=" not in item:
            return None
        k, _, v = item.partition("=")
        kv[k] = v
    if kind == "sock":
        if "address" not in kv or "version" not in kv:
            return None
        try:
            version = int(kv["version"])
        except ValueError:
            return None
        return {
            "kind": "sock",
            "address": kv["address"],
            "version": version,
            "username": kv.get("username"),
            "password": kv.get("password"),
        }
    if kind == "http":
        if "address" not in kv:
            return None
        return {"kind": "http", "address": kv["address"]}
    if kind == "auto-config":
        if "address" not in kv:
            return None
        return {"kind": "auto-config", "address": kv["address"]}
    if kind in ("auto-detect", "direct", "system"):
        return {"kind": kind}
    return None


def _checked(default, *, least=None, legal=None):
    """A field ``CrawlJob.__post_init__`` checks: a value below ``least``
    (None passes — it lifts the bound) or not in ``legal`` raises. Zero
    stays legal where it means "off" or is a real setting."""
    return field(default=default, metadata={"least": least, "legal": legal})


@dataclass
class CrawlJob:
    """The validated logical plan (reference CrawlConfig analog): the
    values the engine reads and cannot work out for itself. Every field is
    checked at construction (``__post_init__``, also run by
    ``dataclasses.replace``); a misspelled or out-of-range value raises a
    ``ValueError`` naming the field instead of running other behaviour.

    ``engines`` maps to the max in-flight URLs per wave: the reference
    never dispatches more URLs than engines (``src/workload.rs:93-98``), so
    wave size = engines, and at every value the wave is ranked exactly
    (dense ``dispatch_rank`` and ``seq``; ``engines=1`` is the reference's
    visit order). ``engines=None`` lifts the cap (scale mode: the per-host
    politeness budget bounds the wave instead, and ranks are sparse).

    Inputs are not part of the job: the corpus (whose bucketed layout
    carries its own bucket count), the robots table and extra seed URLs as
    a DataFrame are arguments of ``run_crawl``.
    """

    seeds: list[str] = field(default_factory=list)
    filters: list[Filter] = field(default_factory=list)
    limit: int | None = _checked(None, least=0)  # O5: stop enqueueing once N results collected
    engines: int | None = _checked(1, least=1)  # reference default: 1 (src/cfg.rs:23,249)
    # reference default: RetryFirst (src/cfg.rs:73); without fault
    # injection FIRST and NO are behaviorally identical (nothing to retry)
    retry_policy: RetryPolicy = _checked(RetryPolicy.FIRST, legal=tuple(p.value for p in RetryPolicy))
    retry_count: int = _checked(3, least=0)  # budget: count >= retry_count ⇒ give up
    # ripeness threshold: in 'wave' clock units (logical waves) or 'wall'
    # clock units (seconds) depending on retry_clock
    retry_threshold: float = _checked(0.0, least=0)
    # retry ripeness clock (O3). 'wave': deterministic logical time — a
    # retry ripens retry_threshold WAVES after requeue (test/repro mode).
    # 'wall': reference parity — requeue stamps real time.time() and the
    # retry ripens once now >= stamp + retry_threshold SECONDS, exactly
    # like src/retry.rs:31-46 comparing elapsed wall-clock against
    # --retry-threshold-milis. Don't mix clocks across a resume: retry_at
    # values in the checkpointed frontier are in the writing run's units.
    retry_clock: str = _checked("wave", legal=("wave", "wall"))
    use_robots: bool = False
    robot: str = DEFAULT_ROBOT
    url_key: str = _checked("parity", legal=("parity", "surt"))  # url::Url equality | SURT
    # --- scale knobs (north_star extensions; no reference analog) ---
    per_host_budget: int | None = _checked(None, least=0)  # max URLs per host per wave
    wave_seconds: float = 30.0  # politeness: budget = wave_seconds/crawl_delay
    # partitioned bloom seen-sidecar (north_rule): >0 wires operators.bloom
    # into the per-wave anti-join — candidates the bloom clears as
    # definitely-new skip the exact anti-join shuffle. 0 = exact-only.
    bloom_partitions: int = _checked(0, least=0)
    bloom_expected_per_partition: int = _checked(1_000_000, least=1)
    # the one bloom probe: links shuffle-hash join the bank blocks on
    # (pid, blk), and the bank is never driver-materialized
    # (operators/bloom.py). 'copartition' is the only legal value.
    bloom_probe_mode: str = "copartition"
    # fold accumulated seen deltas into the bloom bank every K waves, and
    # on every seen-compaction wave (which drops the parts the tail reads);
    # in between, bloom-cleared rows are exact-checked against the
    # ≤K-frame uncovered tail (correct AND amortizes the bank update)
    bloom_fold_every: int = _checked(4, least=1)
    # compact the seen-delta chain every K waves: the anti-join otherwise
    # scans one delta frame per past wave (O(waves²) over a long crawl).
    # 0 = never compact.
    seen_compact_every: int = _checked(8, least=0)
    # fetch-side corpus cache budget (bytes): when the optimizer's size
    # estimate for the corpus is at or below this, run_crawl persists the
    # fetch projection (url, html[, warc_ts]) once — hash-partitioned and
    # sorted by url — so every wave's fetch join reads cached partitions
    # with no corpus-side Exchange/Sort instead of re-scanning the corpus
    # per wave (measured ~40% of plain-crawl wall time at bench scale).
    # MEMORY_AND_DISK, unpersisted on loop exit. At 100 TB the estimate
    # exceeds any sane budget and the scan-per-wave fetch (bucket-pruned
    # or raw corpus) stays in effect — this knob only changes the physical
    # fetch plan, never results. 0 disables.
    corpus_cache_max_bytes: int = _checked(8 << 30, least=0)
    max_iterations: int = _checked(10_000, least=0)
    # extraction program surface (§2.10): 'text' = flagship byte-exact
    # extraction; 'url' = the reference's default JS program
    # (return window.location.href ≡ F.col("url")); 'title' / 'html' = the
    # recognized one-liner JS programs; 'side' = run the Selenium-IDE
    # subset program in side_program against each fetched page
    # (P3, src/backend.rs:173-184)
    check: str = _checked("text", legal=("text", "url", "title", "html", "side"))
    # revisit semantics: a WARC corpus may hold several captures of one
    # URL; True = the fetch keeps only the LATEST capture per URL
    # (wave-sized window in the fetch join — sources/corpus.py
    # latest_capture). Default False: the parquet corpus contract has
    # unique urls, and the dedup window is not free. The CLI turns this
    # on automatically for .warc corpora.
    dedup_captures: bool = False
    side_program: str | None = None

    def __post_init__(self) -> None:
        for f in fields(self):
            value = getattr(self, f.name)
            least, legal = f.metadata.get("least"), f.metadata.get("legal")
            if legal is not None and value not in legal:
                raise ValueError(f"{f.name} must be one of {legal}, got {value!r}")
            if least is not None and value is not None and value < least:
                raise ValueError(f"{f.name} must be >= {least}, got {value}")
        self.retry_policy = RetryPolicy(self.retry_policy)
        if self.check == "side" and self.side_program is None:
            raise ValueError("check='side' needs a side_program")
        if not self.wave_seconds > 0:
            raise ValueError(f"wave_seconds must be > 0, got {self.wave_seconds}")
        if self.bloom_probe_mode != "copartition":
            raise ValueError(
                f"bloom_probe_mode={self.bloom_probe_mode!r}: the broadcast probe "
                "was removed; 'copartition' is the only bloom probe"
            )
        self.filters = squash_filters(list(self.filters))


def job_from_argv(argv: list[str]) -> CrawlJob:
    """C1 — the reference's 16-option CLI schema (src/cfg.rs:25-98) mapped
    onto the spark-submit entry, plus the flags that set the scale knobs.
    Every flag that sets a ``CrawlJob`` field is parsed here, so the job is
    built (and checked) once."""
    # Option spellings mirror the reference's clap schema exactly
    # (src/cfg.rs:25-98): kebab-case longs except the three it spells with
    # underscores (--retry_threshold, --use_robots_txt, --robot), plus its
    # short options, so reference command lines run unmodified. Kebab-case
    # variants of the underscore flags are kept as aliases.
    p = argparse.ArgumentParser(prog="doonop-spark")
    p.add_argument("urls", nargs="*")
    p.add_argument("-s", "--seed-file")
    p.add_argument("-j", "--count-searchers", type=int, default=1)
    p.add_argument("-l", "--limit", type=int)
    p.add_argument("-i", "--ignore", action="append", default=[])
    p.add_argument("-f", "--filter", action="append", default=[])
    # reference default: RetryFirst (src/cfg.rs:73)
    p.add_argument("--retry-policy", default="first")
    p.add_argument("--retry-count", type=int, default=3)
    # reference spelling --retry_threshold, default 10000 ms
    # (src/cfg.rs:76-77); converted below into the retry clock's unit
    p.add_argument(
        "--retry_threshold",
        "--retry-threshold-milis",
        dest="retry_threshold_milis",
        type=float,
        default=10_000.0,
    )
    # O3 ripeness clock: 'wave' = deterministic logical waves (default);
    # 'wall' = reference parity, --retry_threshold honored in real ms
    # against time.time() (src/retry.rs:38-46)
    p.add_argument("--retry-clock", default="wave")
    p.add_argument(
        "--use_robots_txt",
        "--use-robots-txt",
        dest="use_robots_txt",
        action="store_true",
    )
    p.add_argument("--robot", "--robot-name", dest="robot_name", default=DEFAULT_ROBOT)
    # the reference's WebDriver settings (src/cfg.rs:216-289): validated
    # like the reference does, so its command lines run unchanged, but a
    # corpus-join fetch has no browser, proxy, page load or driver
    no_effect = "accepted and validated; has no effect on a corpus-join fetch"
    p.add_argument("-b", "--browser", default="firefox", help=no_effect)
    p.add_argument("--proxy", help=no_effect)
    p.add_argument("-p", "--page-load-timeout", type=int, default=10_000, help=no_effect)
    p.add_argument("-w", "--webdriver-url", default="http://localhost:4444", help=no_effect)
    p.add_argument("--url-key", default="parity")
    p.add_argument("-c", "--check-file")
    p.add_argument("--check-file-format")
    p.add_argument("--bloom-partitions", type=int, default=0)
    p.add_argument("--seen-compact-every", type=int, default=8)
    a = p.parse_args(argv)

    filters: list[Filter] = [RegexFilter(rx) for rx in a.ignore]
    for spec in a.filter:
        f = parse_filter_spec(spec)
        if f is None:
            raise ValueError(f"Failed to parse a filter: {spec!r}")
        filters.append(f)

    parse_browser(a.browser)
    if a.proxy is not None and parse_proxy(a.proxy) is None:
        raise ValueError("Failed to parse proxy setting")

    seeds = list(a.urls)
    if a.seed_file:
        with open(a.seed_file) as f:
            seeds += [ln.strip() for ln in f if ln.strip()]

    code, code_type = open_code_file(a.check_file, a.check_file_format)
    side_program = None
    stripped = code.strip().rstrip(";")
    if code_type == "side":
        check = "side"  # P3: run the program, collect its RESULT variable
        side_program = code
    elif stripped == DEFAULT_CODE:
        check = "url"
    # recognized one-liner JS programs (the reference executes arbitrary JS
    # in a live browser, src/backend.rs:113-123; a corpus-join engine can
    # honestly evaluate the document-shaped subset): title and raw html
    elif stripped in ("return document.title", "return window.document.title"):
        check = "title"
    elif stripped in (
        "return document.documentElement.outerHTML",
        "return document.documentElement.innerHTML",
    ):
        check = "html"
    else:
        # any other program maps to the registered-extraction surface
        # (§2.10): the flagship byte-exact text extraction
        check = "text"

    # --retry-threshold-milis is wall-clock in the reference. The wall
    # clock takes it in seconds; the wave clock counts logical waves (one
    # wave ≈ wave_seconds of dispatch work), so ms → waves against the
    # default cadence.
    threshold = a.retry_threshold_milis / 1000.0
    if a.retry_clock == "wave":
        threshold /= CrawlJob.__dataclass_fields__["wave_seconds"].default
    return CrawlJob(
        check=check,
        side_program=side_program,
        seeds=seeds,
        filters=filters,
        limit=a.limit,
        engines=a.count_searchers,
        retry_policy=parse_retry_policy(a.retry_policy),
        retry_count=a.retry_count,
        retry_threshold=threshold,
        retry_clock=a.retry_clock,
        use_robots=a.use_robots_txt,
        robot=a.robot_name,
        url_key=a.url_key,
        bloom_partitions=a.bloom_partitions,
        seen_compact_every=a.seen_compact_every,
    )
