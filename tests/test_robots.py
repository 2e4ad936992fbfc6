"""robots.txt gate semantics (reference ``src/robots.rs``,
``src/workload.rs:100-109``)."""

from __future__ import annotations

import math

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from doonop_spark.operators.robots import (
    DEFAULT_ROBOT,
    compile_robots,
    crawl_delay_of,
    is_allowed,
    parse_robots,
    robots_gate,
)
from doonop_spark.operators.schedule import politeness_budget

ROBOTS = """# example
User-agent: *
Disallow: /private/
Allow: /private/ok.html
Crawl-delay: 2

User-agent: DoonopRobot
Disallow: /secret/
Crawl-delay: 0.5
"""


def test_longest_match_and_allow_tie():
    assert is_allowed(ROBOTS, "/public/x", "OtherBot")
    assert not is_allowed(ROBOTS, "/private/x", "OtherBot")
    # longest-match: Allow /private/ok.html beats Disallow /private/
    assert is_allowed(ROBOTS, "/private/ok.html", "OtherBot")


def test_specific_agent_group_wins():
    # DoonopRobot group overrides *: /private/ allowed, /secret/ not
    assert is_allowed(ROBOTS, "/private/x", DEFAULT_ROBOT)
    assert not is_allowed(ROBOTS, "/secret/x", DEFAULT_ROBOT)
    assert crawl_delay_of(ROBOTS, DEFAULT_ROBOT) == 0.5
    assert crawl_delay_of(ROBOTS, "OtherBot") == 2


def test_fetch_miss_skips():
    # host with no robots row → silently skipped (src/workload.rs:100-109)
    assert not is_allowed(None, "/anything")


def test_wildcards():
    txt = "User-agent: *\nDisallow: /*.pdf$\n"
    assert not is_allowed(txt, "/a/b/file.pdf")
    assert is_allowed(txt, "/a/b/file.pdf.html")


def test_empty_disallow_allows_all():
    txt = "User-agent: *\nDisallow:\n"
    assert is_allowed(txt, "/anything")


def test_robots_gate_spark(spark):
    frontier = spark.createDataFrame(
        [
            ("http://a.example/ok", "a.example"),
            ("http://a.example/secret/x", "a.example"),
            ("http://missing.example/x", "missing.example"),
            ("javascript:void(0)", None),  # hostless → always allowed (F7)
        ],
        "url string, host string",
    )
    robots = spark.createDataFrame(
        [("a.example", "User-agent: *\nDisallow: /secret/\n")],
        "host string, robots_txt string",
    )
    got = sorted(r.url for r in robots_gate(frontier, compile_robots(robots)).collect())
    assert got == ["http://a.example/ok", "javascript:void(0)"]
    # gate off → passthrough
    assert robots_gate(frontier, None).count() == 4


def test_ua_exact_token_never_substring():
    """RFC 9309 §2.2.1 / cylon: exact case-insensitive product-token match
    only — robot 'Doonop' falls through to '*' when the named groups are
    'doonopbot' and 'doo' (substring matching in either direction would
    wrongly bind it to one of them)."""
    txt = (
        "User-agent: doonopbot\nDisallow: /bot/\n\n"
        "User-agent: doo\nDisallow: /doo/\n\n"
        "User-agent: *\nDisallow: /star/\n"
    )
    assert is_allowed(txt, "/bot/x", "Doonop")  # not 'doonopbot'
    assert is_allowed(txt, "/doo/x", "Doonop")  # not 'doo' either
    assert not is_allowed(txt, "/star/x", "Doonop")  # '*' is its group
    # ...and the exact token binds, case-insensitively
    assert not is_allowed(txt, "/bot/x", "DoonopBot")
    assert is_allowed(txt, "/star/x", "DoonopBot")


def test_ua_product_token_truncation():
    """Google ExtractUserAgent: 'FooBot/2.1 (+url)' matches group 'foobot';
    version suffixes on the group line are likewise truncated."""
    txt = "User-agent: FooBot/1.0\nDisallow: /x/\n"
    assert not is_allowed(txt, "/x/y", "FooBot/2.1 (+http://example.com)")
    assert not is_allowed(txt, "/x/y", "foobot")
    assert is_allowed(txt, "/x/y", "BarBot")  # no '*' group ⇒ no rules


def test_ua_matching_groups_merge():
    """RFC 9309: multiple groups naming the same token combine."""
    txt = (
        "User-agent: a\nDisallow: /one/\n\n"
        "User-agent: b\nDisallow: /b/\n\n"
        "User-agent: a\nDisallow: /two/\nCrawl-delay: 3\n"
    )
    assert not is_allowed(txt, "/one/x", "A")
    assert not is_allowed(txt, "/two/x", "A")
    assert is_allowed(txt, "/b/x", "A")
    assert crawl_delay_of(txt, "A") == 3


# ---- the JVM gate against the Python verifier -------------------------------

# same derandomized battery as tests/test_property.py: a correctness gate
# draws the same examples every run
settings.register_profile("gate", derandomize=True)
settings.load_profile("gate")

# regex metacharacters, percent-escapes, non-ASCII and astral characters
_CHARS = list("ab/.+?()[]{}|\\^%2F-") + ["é", "\U0001F600"]
# rules mostly start with '/', as real ones do, and join literal pieces
# with '*'; an empty one is an empty Disallow
_pattern = st.builds(
    lambda lead, pieces, end: lead + "*".join(pieces) + end,
    st.sampled_from(["/", "/", "/", "*", ""]),
    st.lists(st.text(alphabet=_CHARS + ["$"], max_size=3), min_size=1, max_size=3),
    st.sampled_from(["", "$"]),
)
# path text holds no '?' or '#' (the query and fragment are not matched),
# but may hold characters Java (without UNIX_LINES) and robots.txt parsing
# take for line ends, which a rule pattern cannot
_filler = st.one_of(
    st.sampled_from(["", "\n", "\r", "\r\n", "\x85", "\u2028"]),
    st.text(alphabet=[c for c in _CHARS if c != "?"] + ["*", "$", "\r", "\u2028"], max_size=3),
)
# what follows the last literal piece: nothing, a line end, or more path
_tail = st.sampled_from(["", "", "\n", "\r", "\r\n", "\x85", "\u2028", "x", "/"])
_agent = st.sampled_from(["*", "*", DEFAULT_ROBOT, "doonoprobot/2.0", "doonop", "OtherBot"])
_rule = st.tuples(st.sampled_from(["Allow", "Disallow"]), _pattern)
_group = st.tuples(
    st.lists(_agent, min_size=1, max_size=2),
    st.lists(_rule, max_size=4),
    st.sampled_from([None, "2", "0.5", "0", "-1", "nan", "inf", "x", "1e-12"]),
)


def _robots_txt(groups) -> str:
    lines = []
    for agents, rules, delay in groups:
        lines += [f"User-agent: {a}" for a in agents]
        lines += [f"{k}: {p}" for k, p in rules]  # "Disallow: " = empty
        if delay is not None:
            lines.append(f"Crawl-delay: {delay}")
        lines.append("")
    return "\n".join(lines)


@st.composite
def _host_case(draw):
    """(robots_txt or None, paths): most paths are grown from the rules
    that apply to the robot (each '*' filled with drawn text, then a drawn
    tail), so wildcards, anchors and line ends are exercised on
    near-matches."""
    groups = None if draw(st.integers(0, 7)) == 0 else draw(st.lists(_group, max_size=3))
    txt = None if groups is None else _robots_txt(groups)
    patterns = [] if txt is None else [p for _, p in parse_robots(txt).patterns]
    paths = []
    for _ in range(draw(st.integers(1, 10))):
        if patterns and draw(st.integers(0, 3)):
            first, *rest = draw(st.sampled_from(patterns)).rstrip("$").split("*")
            path = first + "".join(draw(_filler) + part for part in rest) + draw(_tail)
            path = path.replace("?", "a")
            paths.append(path if path.startswith("/") else "/" + path)
        else:
            paths.append("/" + draw(_filler) + draw(_filler) + draw(_tail))
    return txt, paths


@settings(max_examples=20, deadline=None)
@given(st.lists(_host_case(), min_size=1, max_size=12))
@example(
    [
        ("User-agent: *\nDisallow: /a$\nDisallow: /*.pdf$\n", ["/a", "/a\n", "/ab", "/x.pdf", "/x.pdf\n", "/x.pdfz"]),
        ("User-agent: *\nDisallow: /a.b\nDisallow: /(c)|[d]{2}+\\^\nDisallow: /xy?\n",
         ["/a.b", "/axb", "/(c)|[d]{2}+\\^", "/c", "/dd", "/x", "/xy"]),
        ("User-agent: *\nDisallow:\n", ["/anything"]),
        ("User-agent: *\nDisallow: /%2F\U0001F600*é$\nAllow: /%2F\U0001F600\n", ["/%2F\U0001F600xé", "/%2F\U0001F600", "/%2f\U0001F600é"]),
        ("User-agent: *\nDisallow: /a*b\nDisallow: /c$\n", ["/a\nb", "/axb", "/a\n", "/a\u2028b", "/c\r\n", "/c\n"]),
        ("User-agent: doonoprobot/1.0\nDisallow: /one\n\nUser-agent: *\nDisallow: /star\n\n"
         "User-agent: DoonopRobot\nAllow: /one/two\nCrawl-delay: 4\n", ["/one", "/one/two", "/star"]),
        ("User-agent: doonop\nDisallow: /d\n\nUser-agent: *\nDisallow: /s\nCrawl-delay: 1e-12\n", ["/d", "/s"]),
        ("User-agent: *\nAllow: /p\nDisallow: /p\n", ["/p", "/px"]),
        (None, ["/x"]),
    ]
)
def test_jvm_gate_matches_python_verifier(spark, cases):
    """Host i carries robots_txt ``cases[i][0]`` (None: a NULL robots_txt)
    and paths ``cases[i][1]``; one more host has no robots row, and
    hostless URLs ride along. The JVM gate must admit exactly the rows
    is_allowed admits, each admitted row must carry its host's
    crawl_delay_of as ``delay``, and the budgets must follow it."""
    robots = spark.createDataFrame(
        [(f"h{i}.example", txt) for i, (txt, _) in enumerate(cases)],
        "host string, robots_txt string",
    )
    wave, want = [], set()
    for i, (txt, paths) in enumerate(cases + [("", ["/", "/a"])]):
        for path in paths:
            rid = len(wave)
            wave.append((rid, f"http://h{i}.example{path}", f"h{i}.example"))
            if i < len(cases) and is_allowed(txt, path):
                want.add(rid)
    for url in ("mailto:x@h0.example", "javascript:void(0)"):
        want.add(len(wave))
        wave.append((len(wave), url, None))
    frame = spark.createDataFrame(wave, "rid int, url string, host string")
    compiled = compile_robots(robots).localCheckpoint(eager=True)
    admitted = robots_gate(frame, compiled).collect()
    got = {r.rid for r in admitted}
    assert got == want, [wave[i] for i in got ^ want]
    # a NaN Crawl-delay compiles to null, like a missing one
    want_delay = {
        f"h{i}.example": None if d is None or math.isnan(d) else d
        for i, d in enumerate(crawl_delay_of(txt) for txt, _ in cases)
    }
    assert [(r.host, r.delay) for r in admitted if r.delay != want_delay.get(r.host)] == []

    budget = politeness_budget(F.col("delay"), 30.0).alias("budget")
    budgets = {
        r.host: r.budget
        for r in compiled.select("host", budget).filter("budget IS NOT NULL").collect()
    }
    want_budgets = {}
    for i, (txt, _) in enumerate(cases):
        d = crawl_delay_of(txt)
        if d is not None and not math.isnan(d) and d > 0:
            want_budgets[f"h{i}.example"] = max(1, min(math.floor(30.0 / d), 2**31 - 1))
    assert budgets == want_budgets


def test_compiled_rules_shape(spark):
    """One row per robots row: NULL robots_txt → NULL rules (fetch miss),
    rule-free → empty rules, and rx is the Java form of each pattern."""
    robots = spark.createDataFrame(
        [("a", "User-agent: *\nDisallow: /x*.y$\nCrawl-delay: 3\n"), ("b", None), ("c", "")],
        "host string, robots_txt string",
    )
    got = {r.host: (r.delay, r.rules) for r in compile_robots(robots).collect()}
    assert got["a"][0] == 3.0
    assert [tuple(x) for x in got["a"][1]] == [(6, False, r"(?d)^\/x.*\.y$")]
    assert got["b"] == (None, None)
    assert got["c"] == (None, [])
