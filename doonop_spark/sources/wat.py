"""WAT source/sink — Common Crawl's *metadata* interchange format.

A crawl ships three derived artifacts next to its WARC archives: WET
(extracted text — ``sources/warc.py:write_wet``), the CDX capture index
(``sources/cdx.py``), and WAT — per-capture metadata records whose body
is a JSON "envelope" describing the capture: the WARC headers, HTTP
response metadata, and the page's extracted outlinks
(``HTML-Metadata.Links``). Link-graph pipelines (PageRank, host-level
degree stats — ``operators/graph.py``) normally read WAT, not WARC,
because the links are already extracted: a 100 TB WARC crawl compresses
to a few-TB WAT scan for graph work.

Container format is plain WARC (ISO 28500): each part file opens with
a ``warcinfo`` record, then each capture becomes one ``metadata`` record
(``WARC-Record-ID``, ``Content-Type: application/json``, body = the JSON
envelope). We emit the Common Crawl envelope subset we can compute
exactly and parse it back **entirely JVM-side** (``from_json`` over the
framed record body). The envelope and its ``WARC-Date`` (``warc_date``:
UTC, the epoch for a null time) are JVM expressions; the write path's
Python is the fused flagship extract kernel that produces the links and
the per-partition archive writer shared with the WET and WARC sinks, and
the read path's only Python is the streaming WARC framing loop shared
with ``read_warc``.

Scale shape: identical to the WARC reader — one task per archive,
member-by-member streaming inflation, chunked Arrow batches, no
shuffle; the sink streams one gzip member per record to a per-partition
part file (O(record) task memory both ways) under a local path or
``file:`` URI.

Reference parity note: the reference engine (``src/backend.rs:97-106``)
extracts links live per page; WAT is the batch-corpus materialization
of the same information, so ``read_wat_links`` feeding the link-graph
operators is the Spark-native analog of the reference's in-crawl link
collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from doonop_spark.sources.warc import (
    _metadata_record_bytes,
    _read_records,
    _write_parts,
    warc_date,
)

__all__ = ["wat_envelope", "write_wat", "read_wat", "read_wat_links"]


def wat_envelope(
    url_col: str = "url",
    ts_col: str = "warc_ts",
    html_col: str = "html",
    links_col: str = "links",
) -> F.Column:
    """JSON envelope column (Common Crawl WAT subset) for one capture.
    Pure JVM expression — ``to_json`` over nested structs; no UDF."""
    link_objs = F.transform(
        F.col(links_col),
        lambda u: F.struct(F.lit("A@/href").alias("path"), u.alias("url")),
    )
    return F.to_json(
        F.struct(
            F.struct(
                F.struct(
                    F.col(url_col).alias("WARC-Target-URI"),
                    warc_date(F.col(ts_col)).alias("WARC-Date"),
                    F.lit("response").alias("WARC-Type"),
                ).alias("WARC-Header-Metadata"),
                F.struct(
                    F.length(F.col(html_col)).alias("Actual-Content-Length"),
                    F.struct(
                        F.struct(F.lit(200).alias("Status")).alias(
                            "Response-Message"
                        ),
                        F.struct(link_objs.alias("Links")).alias("HTML-Metadata"),
                    ).alias("HTTP-Response-Metadata"),
                ).alias("Payload-Metadata"),
            ).alias("Envelope")
        )
    )


# parse schema for the envelope subset above (programmatic StructType —
# the hyphenated field names make DDL strings awkward)
_LINK = T.StructType(
    [T.StructField("path", T.StringType()), T.StructField("url", T.StringType())]
)
_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField(
            "Envelope",
            T.StructType(
                [
                    T.StructField(
                        "WARC-Header-Metadata",
                        T.StructType(
                            [
                                T.StructField("WARC-Target-URI", T.StringType()),
                                T.StructField("WARC-Date", T.StringType()),
                                T.StructField("WARC-Type", T.StringType()),
                            ]
                        ),
                    ),
                    T.StructField(
                        "Payload-Metadata",
                        T.StructType(
                            [
                                T.StructField(
                                    "Actual-Content-Length", T.LongType()
                                ),
                                T.StructField(
                                    "HTTP-Response-Metadata",
                                    T.StructType(
                                        [
                                            T.StructField(
                                                "Response-Message",
                                                T.StructType(
                                                    [
                                                        T.StructField(
                                                            "Status", T.LongType()
                                                        )
                                                    ]
                                                ),
                                            ),
                                            T.StructField(
                                                "HTML-Metadata",
                                                T.StructType(
                                                    [
                                                        T.StructField(
                                                            "Links",
                                                            T.ArrayType(_LINK),
                                                        )
                                                    ]
                                                ),
                                            ),
                                        ]
                                    ),
                                ),
                            ]
                        ),
                    ),
                ]
            ),
        )
    ]
)


def write_wat(
    corpus: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    html_col: str = "html",
) -> int:
    """Distributed WAT sink: extract each page's outlinks with the fused
    flagship kernel (ONE Arrow pass, absolutized — same kernel the crawl
    uses, so WAT links == crawl links byte-for-byte), build the JSON
    envelope JVM-side, and write one ``metadata`` record per capture to
    a per-partition ``part-NNNNN.warc.wat.gz`` through the archive writer
    ``write_wet`` uses (warcinfo first, shuffle-free, O(record) task
    memory). Returns the number of part files written."""
    from doonop_spark.functions.extract import extract_page_udf

    rows = corpus.withColumn(
        "__links",
        F.coalesce(
            extract_page_udf(url_col, html_col)["links"],
            F.array().cast("array<string>"),
        ),
    ).select(
        F.col(url_col).alias("__u"),
        warc_date(F.col(ts_col)).alias("__t"),
        F.encode(
            wat_envelope(url_col, ts_col, html_col, "__links"), "UTF-8"
        ).alias("__b"),
    )
    return _write_parts(rows, out_dir, ".warc.wat.gz", _metadata_record_bytes)


def read_wat(spark: SparkSession, path_glob: str) -> DataFrame:
    """WAT archives → ``(url, warc_ts, status, content_length,
    links array<string>)``. The WARC framing streams through the same
    scan as ``read_warc`` (one task per archive, O(record) memory, a
    local path or ``file:`` URI); the JSON envelope parses JVM-side via
    ``from_json`` — malformed envelopes yield null metadata columns
    rather than dropping the capture."""
    raw = _read_records(spark, path_glob, ("metadata",), "wat_json", True)
    env = F.from_json(F.col("wat_json"), _ENVELOPE_SCHEMA)["Envelope"]
    pm = env["Payload-Metadata"]
    return raw.select(
        "url",
        "warc_ts",
        pm["HTTP-Response-Metadata"]["Response-Message"]["Status"].alias("status"),
        pm["Actual-Content-Length"].alias("content_length"),
        F.transform(
            pm["HTTP-Response-Metadata"]["HTML-Metadata"]["Links"],
            lambda l: l["url"],
        ).alias("links"),
    )


def read_wat_links(spark: SparkSession, path_glob: str) -> DataFrame:
    """WAT archives → the edge list ``(src, dst)`` the link-graph
    operators (``operators/graph.py``) consume — the standard "build the
    web graph from WAT, not WARC" pipeline. Empty/missing link arrays
    drop out (a page with no outlinks contributes no edges)."""
    wat = read_wat(spark, path_glob)
    return wat.select(
        F.col("url").alias("src"), F.explode("links").alias("dst")
    )
