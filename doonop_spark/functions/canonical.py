"""URL canonicalization / absolutization kernels (SURVEY.md §2.3 P4, P5, P6).

Mirrors the reference's URL semantics, which are those of the WHATWG
``url::Url`` crate (reference: ``src/engine.rs:51-68`` absolutization,
``src/cfg.rs:291-298`` parsing, ``src/workload.rs:205`` seen-set equality):

- a string is an *absolute* URL iff it carries a scheme; otherwise it is
  resolved against the base page URL; unresolvable strings are dropped
  silently (``src/engine.rs:59-68``);
- equality (and therefore the seen-set) operates on the *normalized* form:
  lowercase scheme and host, default port stripped, dot-segments resolved,
  empty path of special schemes rendered as "/"; the fragment is KEPT
  (``url::Url`` keeps fragments, so two URLs differing only in fragment are
  distinct frontier entries in the reference).

Two key flavors:

- :func:`canonicalize` — reference-parity normalization (fragment kept).
- :func:`surt_key` — aggressive SURT-style key (fragment dropped, query
  sorted, ``www.`` stripped, host reversed) for the 10^10-scale seen
  table where near-duplicate URLs should collapse. Opt-in via
  ``CrawlJob.url_key="surt"``.

Everything here is pure Python (unit-testable without Spark) plus thin
Arrow-batched pandas-UDF wrappers. On the hot path the per-element work
runs inside Arrow batches (no row-at-a-time Spark UDFs), and the
*scheduling* loop never calls Python at all: once URLs are canonical,
``host_expr`` / ``F.xxhash64`` keep host extraction and hashing JVM-side.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, quote, unquote

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "canonicalize",
    "absolutize",
    "host_of",
    "surt_key",
    "canonicalize_udf",
    "surt_key_udf",
    "host_expr",
    "url_hash_col",
]

# RFC 3986: scheme = ALPHA *( ALPHA / DIGIT / "+" / "-" / "." )
_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.\-]*):")

# Schemes the WHATWG URL standard treats as "special" (host required,
# default ports, path normalization to "/").
_DEFAULT_PORTS = {"http": "80", "https": "443", "ws": "80", "wss": "443", "ftp": "21"}
_SPECIAL = set(_DEFAULT_PORTS) | {"file"}

_IPV4_RE = re.compile(r"^\d{1,3}(\.\d{1,3}){3}$")

# reg-name / IPv4 / bracketed IPv6. Url::parse rejects forbidden host code
# points (spaces, brackets, etc.) — mirror by whitelisting.
_HOST_RE = re.compile(r"^([A-Za-z0-9._~%\-]+|\[[0-9A-Fa-f:.]+\])$")


def _valid_host(host: str) -> bool:
    return host == "" or _HOST_RE.match(host) is not None

# Characters allowed un-escaped in path / query / fragment (superset per
# WHATWG; '%' kept so existing escapes survive).
_PATH_SAFE = "/:@!$&'()*+,;=~._-%"
_QUERY_SAFE = "/:@!$&'()*+,;=~._-%?"


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if len(out) > 1:
                out.pop()
            continue
        out.append(seg)
    # trailing "." / ".." leave a trailing slash
    if path.endswith(("/.", "/..")):
        if out and out[-1] != "":
            out.append("")
    res = "/".join(out)
    if not res.startswith("/"):
        res = "/" + res
    return res


def _split_authority(auth: str) -> tuple[str, str, str]:
    """authority -> (userinfo_with_at, host, port_with_colon)."""
    userinfo = ""
    if "@" in auth:
        userinfo, auth = auth.rsplit("@", 1)
        userinfo += "@"
    host, port = auth, ""
    if auth.startswith("["):  # IPv6 literal
        end = auth.find("]")
        if end != -1:
            host = auth[: end + 1]
            rest = auth[end + 1 :]
            if rest.startswith(":"):
                port = rest
    elif ":" in auth:
        host, p = auth.rsplit(":", 1)
        port = ":" + p
    return userinfo, host, port


def canonicalize(url: str | None) -> str | None:
    """Normalize an absolute URL to the reference's equality form.

    Returns None when the string is not an absolute URL (no scheme) or a
    special-scheme URL has no host — mirroring ``Url::parse`` failure.
    Non-special schemes (``mailto:``, ``javascript:``…) are kept opaque
    with only the scheme lowercased, as ``url::Url`` does.
    """
    if url is None:
        return None
    url = url.strip().strip("\t\r\n")
    m = _SCHEME_RE.match(url)
    if not m:
        return None
    scheme = m.group(1).lower()
    rest = url[m.end() :]

    if scheme not in _SPECIAL:
        return scheme + ":" + rest

    if not rest.startswith("//"):
        # WHATWG special schemes tolerate missing/extra slashes: http:foo,
        # http:/foo and http:///foo all mean http://foo — normalize.
        rest = "//" + rest.lstrip("/")
    rest = rest[2:]

    # split authority / path / query / fragment
    frag = ""
    if "#" in rest:
        rest, f = rest.split("#", 1)
        frag = "#" + f
    query = ""
    if "?" in rest:
        rest, q = rest.split("?", 1)
        query = "?" + q
    if "/" in rest:
        auth, path = rest.split("/", 1)
        path = "/" + path
    else:
        auth, path = rest, ""

    userinfo, host, port = _split_authority(auth)
    if not host and scheme != "file":
        return None
    if not _valid_host(host):
        return None
    host = host.lower().rstrip(".")
    if port[1:] == _DEFAULT_PORTS.get(scheme):
        port = ""
    if port == ":":
        port = ""

    if not path:
        path = "/"
    path = _remove_dot_segments(path)
    path = quote(unquote(path), safe=_PATH_SAFE)
    if query:
        query = "?" + quote(unquote(query[1:]), safe=_QUERY_SAFE)

    return f"{scheme}://{userinfo}{host}{port}{path}{query}{frag}"


def absolutize(base: str | None, href: str | None) -> str | None:
    """Resolve ``href`` against ``base`` (reference ``make_absolute_url``,
    ``src/engine.rs:59-68``): absolute → keep; relative → join; neither
    parses → None (dropped silently)."""
    if href is None:
        return None
    href = href.strip()
    if _SCHEME_RE.match(href):
        return canonicalize(href)
    if base is None:
        return None
    try:
        joined = urljoin(base, href)
    except ValueError:
        return None
    if not _SCHEME_RE.match(joined):
        return None
    return canonicalize(joined)


def host_of(url: str | None) -> str | None:
    """Registrable host of a canonical URL; None for IP literals and
    host-less URLs — mirroring ``Url::domain()`` (``src/robots.rs:16-19``,
    ``src/filters.rs:19``)."""
    if url is None:
        return None
    m = _SCHEME_RE.match(url)
    if not m or m.group(1).lower() not in _SPECIAL:
        return None
    rest = url[m.end() :].lstrip("/")
    auth = re.split(r"[/?#]", rest, 1)[0]
    _, host, _ = _split_authority(auth)
    if not host or host.startswith("[") or _IPV4_RE.match(host):
        return None
    return host.lower()


def surt_key(url: str | None) -> str | None:
    """Aggressive SURT-style seen-key: canonical form minus fragment,
    sorted query, leading ``www.`` stripped, host labels reversed —
    ``com,example)/path?a=1&b=2``. Collapses trivially-distinct URL
    spellings at 10^10 scale; NOT reference-parity (opt-in)."""
    c = canonicalize(url)
    if c is None:
        return None
    c = c.split("#", 1)[0]
    m = _SCHEME_RE.match(c)
    rest = c[m.end() :].lstrip("/")
    q = ""
    if "?" in rest:
        rest, qs = rest.split("?", 1)
        q = "?" + "&".join(sorted(qs.split("&")))
    if "/" in rest:
        auth, path = rest.split("/", 1)
        path = "/" + path
    else:
        auth, path = rest, "/"
    _, host, port = _split_authority(auth)
    if host.startswith("www."):
        host = host[4:]
    rev = ",".join(reversed(host.split(".")))
    return f"{rev}{port}){path}{q}"


# ---------------------------------------------------------------------------
# Arrow-batched wrappers (pandas UDFs) — the only Python on the hot path,
# always over Arrow record batches, never row-at-a-time Spark UDFs.
# ---------------------------------------------------------------------------

@F.pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return urls.map(canonicalize, na_action="ignore")


@F.pandas_udf(T.StringType())
def surt_key_udf(urls: pd.Series) -> pd.Series:
    return urls.map(surt_key, na_action="ignore")


def host_expr(url: Column) -> Column:
    """JVM-side host extraction for *already canonical* URLs (lowercase
    host guaranteed by :func:`canonicalize`), so the scheduling loop never
    leaves whole-stage codegen. Returns NULL for IP literals / host-less
    URLs, matching :func:`host_of`."""
    auth = F.regexp_extract(url, r"^[a-z][a-z0-9+.\-]*://([^/?#]+)", 1)
    no_user = F.regexp_replace(auth, r"^.*@", "")
    host = F.regexp_replace(no_user, r":\d*$", "")
    is_ip = host.rlike(r"^\d{1,3}(\.\d{1,3}){3}$") | host.startswith("[")
    special = url.rlike(r"^(http|https|ws|wss|ftp|file)://")
    return F.when(special & (host != "") & ~is_ip, host)


def url_hash_col(url: Column) -> Column:
    """64-bit seen-key hash (north_rule: xxhash64 over the canonical URL).
    Used for partitioning, bloom sidecars and join keys; exact dedup still
    compares the URL string to make 64-bit collisions harmless."""
    return F.xxhash64(url)
