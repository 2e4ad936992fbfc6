"""URL filters (SURVEY.md §2.4 F1-F5; reference ``src/filters.rs``,
``src/cfg.rs:101-160,338-342``).

Semantics ported:

- **RegexFilter** (F1): a URL is *ignored* when the regex matches anywhere
  in the full URL string (``src/filters.rs:15-17``; fancy-regex allows
  lookaround/backrefs — Java's regex engine used by ``rlike`` supports
  both, so the filter runs JVM-side).
- **DomainFilter** (F2): a URL is *kept* iff its domain — with a leading
  ``www.`` stripped on BOTH sides — equals one of the allowed domains;
  URLs without a domain (IP literals, opaque schemes) are ignored
  (``src/filters.rs:18-26``).
- **squash** (F3): multiple ``domain=`` specs union into ONE allow-list
  (``src/cfg.rs:142-155``) — otherwise two domain filters would reject
  every URL.
- **clean_seeds** (F4): sort, dedup, drop-filtered at config time
  (``src/cfg.rs:338-342``); the sort also pins the initial LIFO crawl
  order (last seed dispatches first).
- Filters are applied to *discovered links* before they enter the frontier
  (F5, ``src/engine.rs:34``) — i.e. before the seen-set anti-join shuffle,
  pruning it.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from doonop_spark.functions.canonical import canonicalize, host_of, host_expr

__all__ = [
    "RegexFilter",
    "DomainFilter",
    "parse_filter_spec",
    "squash_filters",
    "is_ignored",
    "ignored_expr",
    "apply_link_filters",
    "clean_seeds",
]


@dataclass(frozen=True)
class RegexFilter:
    """F1 — drop URL when ``pattern`` matches the full URL string."""

    pattern: str


@dataclass(frozen=True)
class DomainFilter:
    """F2 — keep URL only when its (www-stripped) domain is allowed."""

    domains: tuple[str, ...] = field(default_factory=tuple)

    def stripped(self) -> tuple[str, ...]:
        return tuple(d[4:] if d.startswith("www.") else d for d in self.domains)


Filter = RegexFilter | DomainFilter


def parse_filter_spec(spec: str) -> DomainFilter | None:
    """``name=value`` filter spec; only ``domain=`` is recognized
    (reference ``parse_filter``, src/cfg.rs:330-337)."""
    if "=" not in spec:
        return None
    name, value = spec.split("=", 1)
    if name == "domain":
        return DomainFilter((value,))
    return None


def squash_filters(filters: list[Filter]) -> list[Filter]:
    """F3 — union all DomainFilters into one; keep regex filters as-is,
    domain filter appended last (reference src/cfg.rs:142-155)."""
    domains: list[str] = []
    out: list[Filter] = []
    has_domain = False
    for f in filters:
        if isinstance(f, DomainFilter):
            has_domain = True
            domains.extend(f.domains)
        else:
            out.append(f)
    if has_domain:
        out.append(DomainFilter(tuple(domains)))
    return out


def is_ignored(f: Filter, url: str) -> bool:
    """Pure-Python filter kernel (driver-side seed clean + unit tests)."""
    if isinstance(f, RegexFilter):
        return re.search(f.pattern, url) is not None
    host = host_of(url)
    if host is None:
        return True
    h = host[4:] if host.startswith("www.") else host
    return h not in f.stripped()


def ignored_expr(f: Filter, url: Column) -> Column:
    """JVM-side predicate: True when the filter ignores the URL."""
    if isinstance(f, RegexFilter):
        return url.rlike(f.pattern)
    host = host_expr(url)
    stripped = F.regexp_replace(host, r"^www\.", "")
    allowed = list(f.stripped())
    if not allowed:
        return F.lit(True)
    return host.isNull() | ~stripped.isin(allowed)


def apply_link_filters(
    df: DataFrame, filters: list[Filter], url_col: str = "url"
) -> DataFrame:
    """F5 — drop rows any filter ignores. Applied to discovered links
    *before* the seen-set anti-join so the shuffle only carries survivors."""
    for f in filters:
        df = df.filter(~ignored_expr(f, F.col(url_col)))
    return df


def clean_seeds(urls: list[str], filters: list[Filter]) -> list[str]:
    """F4 — canonicalize, sort, dedup, drop-filtered. Invalid seeds raise,
    mirroring the reference's hard error on unparseable seed URLs
    (``src/cfg.rs:291-298``)."""
    parsed = []
    for u in urls:
        c = canonicalize(u)
        if c is None:
            raise ValueError(f"invalid seed URL: {u!r}")
        parsed.append(c)
    parsed.sort()
    out: list[str] = []
    for u in parsed:
        if out and out[-1] == u:
            continue
        if any(is_ignored(f, u) for f in filters):
            continue
        out.append(u)
    return out
