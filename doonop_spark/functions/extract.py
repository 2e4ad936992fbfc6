"""HTML link / text extraction as vectorized Arrow UDFs (SURVEY.md §2.3
P1, P2; reference ``src/backend.rs:89-123``).

Reference semantics being reproduced:

- **extract_links** (P1): find every ``<a>`` element in document order and
  take its ``href`` attribute; anchors without an ``href`` are skipped
  silently (``src/backend.rs:97-106``). Raw attribute values are returned
  (entity-unescaped); absolutization is a separate kernel (P4).
- **extract_text** (P2): the reference runs a user-supplied JS program per
  page and collects its JSON result (``src/backend.rs:113-123``); the
  default program is ``return window.location.href``
  (``src/cfg.rs:344-346``). Our flagship extraction (pinned by
  ``BASELINE.json`` input_hint) is a deterministic text extractor that is
  byte-identical per URL:

  1. if the page has a ``<main>`` element, its inner markup is returned
     entity-unescaped and byte-verbatim (the synthetic corpus writes the
     ground-truth ``text`` column inside ``<main>`` escaped, so
     ``extract_text(html) == text`` byte-for-byte);
  2. otherwise the ``<body>`` content (whole document when no body tag) has
     ``<script>``/``<style>`` subtrees removed, all tags stripped, entities
     unescaped, and whitespace runs collapsed to single spaces (classic
     boilerplate-free fallback).

Both run, with P4 absolutization of the links against the page URL, in
one pandas UDF, :func:`extract_page_udf` — regex scans per element inside
an Arrow batch, never a row-at-a-time Spark UDF (input_hint: no per-row
Python). The ``_py`` kernels are its reference implementation.
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "extract_links_py",
    "extract_text_py",
    "extract_page_udf",
]

# <a ...> open tags, document order; [^>]* cannot cross into the next tag.
_A_TAG_RE = re.compile(r"<a\b([^>]*)>", re.IGNORECASE | re.DOTALL)
_HREF_RE = re.compile(
    r"""\bhref\s*=\s*("([^"]*)"|'([^']*)'|([^\s"'>]+))""",
    re.IGNORECASE | re.DOTALL,
)
_MAIN_RE = re.compile(r"<main\b[^>]*>(.*?)</main\s*>", re.IGNORECASE | re.DOTALL)
_BODY_RE = re.compile(r"<body\b[^>]*>(.*?)(?:</body\s*>|$)", re.IGNORECASE | re.DOTALL)
_SCRIPT_STYLE_RE = re.compile(
    r"<(script|style)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")


def _decode(html: bytes | str | None) -> str | None:
    if html is None:
        return None
    if isinstance(html, (bytes, bytearray, memoryview)):
        return bytes(html).decode("utf-8", errors="replace")
    return html


def extract_links_py(html: bytes | str | None) -> list[str] | None:
    """Pure-Python P1 kernel: hrefs of all ``<a>`` tags in document order;
    anchors without href skipped (reference src/backend.rs:97-106)."""
    text = _decode(html)
    if text is None:
        return None
    out: list[str] = []
    for m in _A_TAG_RE.finditer(text):
        attrs = m.group(1)
        h = _HREF_RE.search(attrs)
        if h is None:
            continue  # Ok(None) => continue, src/backend.rs:104
        raw = h.group(2) if h.group(2) is not None else (
            h.group(3) if h.group(3) is not None else h.group(4)
        )
        out.append(_html.unescape(raw))
    return out


def extract_text_py(html: bytes | str | None) -> str | None:
    """Pure-Python P2 kernel; see module docstring for the two-mode spec."""
    text = _decode(html)
    if text is None:
        return None
    m = _MAIN_RE.search(text)
    if m is not None:
        return _html.unescape(m.group(1))
    bm = _BODY_RE.search(text)
    if bm is not None:
        text = bm.group(1)
    body = _SCRIPT_STYLE_RE.sub(" ", text)
    body = _TAG_RE.sub(" ", body)
    body = _html.unescape(body)
    return _WS_RE.sub(" ", body).strip()


# Fused P1+P2+P4 kernel: ONE Arrow stage computing links (already
# absolutized against the page URL) and text. Fusing matters at scale:
# each distinct ArrowEvalPython stage shape gets its own Python worker
# pool (spawn ≈ 0.5 s/worker, serialized — measured), and `html` crosses
# the JVM↔Arrow boundary once instead of twice.
_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("text", T.StringType()),
    ]
)


@F.pandas_udf(_PAGE_SCHEMA)
def extract_page_udf(url: pd.Series, html: pd.Series) -> pd.DataFrame:
    from doonop_spark.functions.canonical import absolutize

    links: list[list[str] | None] = []
    texts: list[str | None] = []
    for base, h in zip(url, html):
        raw = extract_links_py(h)
        if raw is None:
            links.append(None)
        else:
            out = []
            for href in raw:
                a = absolutize(base, href)
                if a is not None:
                    out.append(a)
            links.append(out)
        texts.append(extract_text_py(h))
    return pd.DataFrame({"links": links, "text": texts})
