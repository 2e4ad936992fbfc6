"""robots.txt admission gate (SURVEY.md §2.4 F6/F7, §2.1 S5; reference
``src/robots.rs``, gate applied at dispatch in ``src/workload.rs:100-109``).

Reference semantics reproduced exactly:

- robots.txt is fetched **once per (domain, robot)** and the compiled
  verifier cached (``src/robots.rs:23-33``). Spark shape: the corpus ships
  a small ``robots`` table ``(host, robots_txt)``; :func:`compile_robots`
  turns it ONCE per crawl, in one Arrow pass, into ``(host, delay,
  rules)`` — each rule a ``(len, allow, rx)`` struct whose ``rx`` is a Java
  regex — and ``run_crawl`` checkpoints that table. The crawl gates each
  URL once, as it enters the frontier (the seeds, then each wave's new
  links), so no wave spends a fetch slot on a disallowed URL: the gate
  broadcast-joins the table and matches paths with ``regexp_like`` inside
  a higher-order ``filter``: JVM only, no Python stage.
- a URL **without a domain is always allowed** (F7, ``src/robots.rs:16-19``).
- a robots **fetch error ⇒ the URL is silently skipped** — never
  dispatched, never counted (``src/workload.rs:100-109`` ``if let Ok(true)``
  swallows Err). Table shape: a host absent from the robots table (or with
  a NULL ``robots_txt``) models the fetch error ⇒ its URLs are dropped
  silently. Hosts whose robots.txt is empty/permissive admit everything.
- UA-group matching is RFC 9309 / Google-REP (the reference's ``cylon``
  crate): exact case-insensitive product-token equality, never substring
  ("Doonop" matches neither group "doonopbot" nor "doo"); ``*`` is the
  fallback; all groups at the winning level merge. Per-path longest-match
  wins; tie ⇒ Allow; no rule ⇒ allowed. ``*`` and ``$`` wildcards.

``Crawl-delay`` is parsed as well — not used by the reference, but it
feeds the per-host politeness budget (north_star extension, see
``operators/schedule.py``): the compiled table's ``delay`` rides each
admitted row as a frontier column, looked up by the same join that gates
the URL, so scheduling reads it from the row with no join of its own.

:func:`is_allowed` / :func:`crawl_delay_of` are the pure-Python verifier;
the JVM gate is tested against them (``tests/test_robots.py``).
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "parse_robots",
    "is_allowed",
    "crawl_delay_of",
    "compile_robots",
    "robots_gate",
    "DEFAULT_ROBOT",
]

# reference default user-agent token: src/cfg.rs:94-95
DEFAULT_ROBOT = "DoonopRobot"


def _rule_regex(pattern: str) -> re.Pattern:
    """Compile a robots path pattern (* and $ wildcards) to an anchored regex."""
    anchored_end = pattern.endswith("$")
    if anchored_end:
        pattern = pattern[:-1]
    parts = [re.escape(p) for p in pattern.split("*")]
    rx = "^" + ".*".join(parts)
    if anchored_end:
        rx += "$"
    return re.compile(rx)


_ASCII_PUNCT = re.compile(r"[!-/:-@\[-`{-~]")


def _java_rule_regex(pattern: str) -> str:
    """:func:`_rule_regex` for ``java.util.regex``: ``(?d)`` (UNIX_LINES)
    makes ``.`` and ``$`` treat only ``\\n`` as a line end, as Python ``re``
    does; ASCII punctuation is backslash-escaped (a literal in Java for any
    non-alphabetic character), everything else stays literal."""
    anchored_end = pattern.endswith("$")
    if anchored_end:
        pattern = pattern[:-1]
    parts = [_ASCII_PUNCT.sub(r"\\\g<0>", p) for p in pattern.split("*")]
    return "(?d)^" + ".*".join(parts) + ("$" if anchored_end else "")


def _parse_groups(robots_txt: str) -> list[tuple[list[str], list[tuple[bool, str]], float | None]]:
    """robots.txt -> [(agents, [(is_allow, path)...], crawl_delay)]."""
    groups: list[tuple[list[str], list[tuple[bool, str]], float | None]] = []
    agents: list[str] = []
    rules: list[tuple[bool, str]] = []
    delay: float | None = None
    agents_open = True  # consecutive UA lines accumulate into one group

    def flush():
        nonlocal agents, rules, delay
        if agents:
            groups.append((agents, rules, delay))
        agents, rules, delay = [], [], None

    for raw in robots_txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not agents_open:
                flush()
                agents_open = True
            agents.append(value.lower())
        elif key in ("allow", "disallow"):
            agents_open = False
            if key == "disallow" and value == "":
                continue  # empty Disallow = allow everything (no rule)
            if value:
                rules.append((key == "allow", value))
        elif key == "crawl-delay":
            agents_open = False
            try:
                delay = float(value)
            except ValueError:
                pass
    flush()
    return groups


_TOKEN_RE = re.compile(r"[a-zA-Z_-]+")


def _product_token(name: str) -> str:
    """Leading product token of a crawler/UA-line name, lowercased —
    Google-REP ExtractUserAgent semantics ("FooBot/2.1 (+http://…)" ⇒
    "foobot"). Empty string when the name starts with a non-token char."""
    m = _TOKEN_RE.match(name.strip())
    return m.group(0).lower() if m else ""


class RobotsRules:
    """Compiled per-(robots_txt, robot) verifier — the reference's
    ``RobotsVerifier`` analog (src/robots.rs:60-81)."""

    __slots__ = ("patterns", "rules", "crawl_delay")

    def __init__(self, robots_txt: str, robot: str):
        # UA-group matching is RFC 9309 §2.2.1 / cylon 0.2: EXACT
        # case-insensitive product-token equality ("Doonop" does NOT match
        # group "doonopbot" and vice versa — substring matching is too
        # loose), '*' the fallback, and rules of ALL groups at the winning
        # level merged. The product token is the leading [a-zA-Z_-] run
        # (Google's ExtractUserAgent: "DoonopRobot/1.0" ⇒ "doonoprobot").
        robot_tok = _product_token(robot)
        exact: list[tuple[list, float | None]] = []
        star: list[tuple[list, float | None]] = []
        for agents, rules, delay in _parse_groups(robots_txt):
            toks = {_product_token(a) for a in agents}
            if robot_tok and robot_tok in toks:
                exact.append((rules, delay))
            elif "*" in agents:
                star.append((rules, delay))
        chosen = exact or star
        self.patterns: list[tuple[bool, str]] = [
            rule for rules, _ in chosen for rule in rules
        ]
        self.rules: list[tuple[bool, int, re.Pattern]] = [
            (allow, len(p), _rule_regex(p)) for allow, p in self.patterns
        ]
        self.crawl_delay: float | None = next(
            (d for _, d in chosen if d is not None), None
        )

    def is_allowed(self, path: str) -> bool:
        if not path:
            path = "/"
        verdict, best_len = True, -1
        for allow, plen, rx in self.rules:
            if rx.match(path) and (plen > best_len or (plen == best_len and allow)):
                verdict, best_len = allow, plen
        return verdict


@lru_cache(maxsize=4096)
def parse_robots(robots_txt: str, robot: str = DEFAULT_ROBOT) -> RobotsRules:
    return RobotsRules(robots_txt, robot)


def is_allowed(robots_txt: str | None, url_path: str, robot: str = DEFAULT_ROBOT) -> bool:
    if robots_txt is None:
        return False  # fetch-miss ⇒ silently skipped (src/workload.rs:100-109)
    return parse_robots(robots_txt, robot).is_allowed(url_path)


def crawl_delay_of(robots_txt: str | None, robot: str = DEFAULT_ROBOT) -> float | None:
    if robots_txt is None:
        return None
    return parse_robots(robots_txt, robot).crawl_delay


def _path_expr(url):
    """JVM-side PATH of a canonical URL — path only, query excluded: the
    reference matches ``url.path()`` (cylon ``allow(url.path())``,
    src/robots.rs:79-81), so 'Disallow: /a$' disallows '/a' but NOT
    '/a?x=1'. Empty path ⇒ '/'."""
    return F.coalesce(
        F.nullif(F.regexp_extract(url, r"^[a-z][a-z0-9+.\-]*://[^/?#]+(/[^?#]*)", 1), F.lit("")),
        F.lit("/"),
    )


def compile_robots(robots: DataFrame, robot: str = DEFAULT_ROBOT) -> DataFrame:
    """``(host, robots_txt)`` → ``(host, delay, rules)`` in one Arrow pass:
    ``delay`` is the winning group's Crawl-delay, ``rules`` its path rules
    as ``(len, allow, rx)`` structs with ``rx`` a Java regex. A NULL
    ``robots_txt`` (fetch miss) compiles to NULL rules; a rule-free one to
    an empty array. Lazy: callers that reuse it checkpoint it."""

    @F.pandas_udf("delay double, rules array<struct<len:int, allow:boolean, rx:string>>")
    def _compile(txt: pd.Series) -> pd.DataFrame:
        parsed = [None if t is None else parse_robots(t, robot) for t in txt]
        delay = [None if r is None else r.crawl_delay for r in parsed]
        rules = [
            None
            if r is None
            else [{"len": len(p), "allow": a, "rx": _java_rule_regex(p)} for a, p in r.patterns]
            for r in parsed
        ]
        return pd.DataFrame({"delay": pd.Series(delay, dtype="float64"), "rules": rules})

    c = _compile(F.col("robots_txt"))
    return robots.select("host", c["delay"].alias("delay"), c["rules"].alias("rules"))


def robots_gate(frame: DataFrame, robots: DataFrame | None) -> DataFrame:
    """F6/F7 — the admission gate: the rows of ``frame`` (``url``, ``host``)
    that may enter the frontier, each with its host's Crawl-delay as
    ``delay`` (null when ``robots`` is None, the host is null or it has no
    Crawl-delay); ``robots=None`` admits every row.

    ``robots`` is the compiled per-host table (:func:`compile_robots`),
    broadcast-joined onto ``frame``. A row passes when its host is NULL
    (F7), or when its host has rules and the longest rule matching its
    path — ``array_max`` over the matching ``(len, allow, rx)`` structs —
    is an Allow (tie ⇒ Allow, no match ⇒ allowed). A host without rules
    (no robots row, or a NULL ``robots_txt``) is a fetch miss: its rows
    drop silently. Over a checkpointed table the gate is JVM only.
    """
    if robots is None:
        return frame.withColumn("delay", F.lit(None).cast("double"))
    r = F.broadcast(
        robots.select(F.col("host").alias("__rhost"), F.col("rules").alias("__rules"), "delay")
    )
    joined = frame.join(r, frame["host"] == r["__rhost"], "left")
    path = _path_expr(F.col("url"))
    longest = F.array_max(F.filter("__rules", lambda x: F.regexp_like(path, x["rx"])))
    gate = F.col("host").isNull() | (
        F.col("__rules").isNotNull() & F.coalesce(longest["allow"], F.lit(True))
    )
    return joined.filter(gate).drop("__rhost", "__rules")
