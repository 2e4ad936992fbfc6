"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes each implemented operator from SURVEY.md §2 (plus
the training-data operator suite) over the driver's parquet tables;
``oracle_sql()`` gives the DuckDB-equivalent SQL for everything
SQL-expressible. Column names/aliases match pairwise so the driver's
order-insensitive value-hash comparison is meaningful. Timestamps are
projected as unix microseconds on both sides to dodge dialect formatting.

Every entry is exact-oracled — including the engine-hash pipelines:
winnowing replays the Karp-Rabin rolling hash in HUGEINT SQL, the
hyperplane-LSH queries inline their fixed-seed planes as DOUBLE literals,
and MinHash/SimHash replay Spark's xxhash64 itself via a generated
XXH64-in-SQL expression (``_xxh64_sql``, verified bit-for-bit against
``F.xxhash64`` across all input-length classes).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

# the doonop_spark package lives next to this file; make imports work no
# matter which working directory the driver loads the module from
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _read_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like _read, but round-robin repartitioned to the session's
    parallelism. The driver tables are single-row-group parquet files, so
    a bare scan is ONE task — every per-row-heavy query (regex/HOF
    projections, Arrow UDF kernels, shingle explodes) was running
    serially on one core (guide §2: input skew — one unsplittable input).
    The repartition costs one tiny exchange (the tables are a few MB) and
    buys scan-side parallelism; row-wise results are order-independent so
    query output is unchanged."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


def _ts_us():
    """Epoch micros of the TIMESTAMP_NTZ events.ts, session-TZ-PROOF: pure
    NTZ arithmetic matches DuckDB's naive epoch_us under any driver
    session timezone (a tz-cast would shift by the session offset)."""
    return F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )


def _doc_url(j):
    """Must stay in lockstep with doonop_spark.sources.corpus.pages_from_documents."""
    return F.concat(
        F.lit("http://h"),
        F.lpad((j % 20).cast("string"), 4, "0"),
        F.lit(".example/d"),
        j.cast("string"),
    )


# ---------------------------------------------------------------------------
# crawl kernels (SURVEY.md §2) over the driver tables
# ---------------------------------------------------------------------------

def q_seed_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: sort+dedup+filter of a seed list (synthesized from documents)."""
    docs = _read(spark, sf_dir, "documents")
    seeds = docs.select(_doc_url(F.col("doc_id") % 50).alias("url"))
    return (
        seeds.dropDuplicates(["url"])
        .filter(~F.col("url").rlike("/h0003\\."))
        .orderBy("url")
    )


def q_seen_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: candidates ∖ seen via left-anti join."""
    ev = _read(spark, sf_dir, "events")
    cand = ev.filter(F.col("event_id") % 2 == 0).select("event_id")
    seen = ev.filter(F.col("event_id") % 3 == 0).select("event_id")
    return cand.join(seen, "event_id", "left_anti")


def q_batch_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: first occurrence per key in batch order (ts, event_id)."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", _ts_us().alias("ts_us"))
    )


def q_domain_allow_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: allow-list with www-strip semantics (sources stand in for hosts)."""
    docs = _read(spark, sf_dir, "documents")
    return docs.filter(
        F.regexp_replace(F.col("source"), "^www\\.", "").isin("src1", "src7", "src13")
    ).select("doc_id", "source")


def q_regex_ignore_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: drop rows the ignore-regex matches (full-string search)."""
    docs = _read(spark, sf_dir, "documents")
    return docs.filter(~F.col("text").rlike("merge [a-z]+ scan")).select("doc_id")


def q_lifo_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O6: LIFO top-k — the wave the scheduler would dispatch."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(100)
        .select("event_id", _ts_us().alias("ts_us"))
    )


def q_retry_ripeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: ripe retries — past-deadline rows, ripest first."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.filter(F.expr("ts <= TIMESTAMP_NTZ '2024-01-05 00:00:00'"))
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .limit(100)
        .select("event_id", _ts_us().alias("ts_us"))
    )


def q_retry_priority_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: RetryFirst policy ordering — retry class before fresh, then LIFO."""
    ev = _read(spark, sf_dir, "events")
    prio = F.when(F.col("event_type") == "error", 0).otherwise(1)
    return (
        ev.orderBy(prio.asc(), F.desc("ts"), F.desc("event_id"))
        .limit(100)
        .select("event_id", "event_type", _ts_us().alias("ts_us"))
    )


def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12: per-status metrics rollup."""
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


def q_politeness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host budget: at most 3 rows per user_id, newest first."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


def q_host_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: host extraction from synthesized URLs (JVM regex path)."""
    docs = _read(spark, sf_dir, "documents")
    url = _doc_url(F.col("doc_id"))
    return docs.select(
        "doc_id",
        F.regexp_extract(url, "^[a-z]+://([^/]+)", 1).alias("host"),
    )


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 (SQL-expressible subset): lowercase scheme/host + strip :80."""
    docs = _read(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("HTTP://H"),
        (F.col("doc_id") % 9).cast("string"),
        F.lit(".Example.COM:80/p"),
        F.col("doc_id").cast("string"),
    )
    norm = F.regexp_replace(
        F.concat(F.lit("http://"), F.lower(F.regexp_extract(messy, "^[A-Za-z]+://([^/]+)", 1))),
        ":80$",
        "",
    )
    path = F.regexp_extract(messy, "^[A-Za-z]+://[^/]+(/.*)$", 1)
    return docs.select("doc_id", F.concat(norm, path).alias("url"))


def q_crawl_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship e2e: BFS crawl of the corpus derived from documents
    (binary-tree links ⇒ every doc reachable from doc 0). The oracle is the
    closed form of the reachable set: every document, with byte-identical
    extracted text as data."""
    from doonop_spark.plans.job import CrawlJob
    from doonop_spark.plans.loop import run_crawl
    from doonop_spark.sources.corpus import pages_from_documents

    docs = _read(spark, sf_dir, "documents")
    corpus = pages_from_documents(spark, docs, n_hosts=20)
    job = CrawlJob(
        seeds=["http://h0000.example/d0"],
        engines=None,
        per_host_budget=100_000,
    )
    res = run_crawl(spark, job, corpus)
    return res.results.select("url", "data")


def q_warc_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4b e2e: the crawl_bfs flagship THROUGH the WARC format — the
    documents-derived corpus is written out as per-partition ``.warc.gz``
    archives (``write_warc_dir``), streamed back via ``warc_corpus``
    (member-by-member inflation, chunked Arrow batches, byte-exact
    extraction in the same pass), and BFS-crawled. Same closed-form
    oracle as crawl_bfs: every document reachable from doc 0 with
    byte-identical extracted text — so a hash match proves the WARC
    round-trip is lossless end-to-end."""
    import shutil
    import tempfile

    from doonop_spark.plans.job import CrawlJob
    from doonop_spark.plans.loop import run_crawl
    from doonop_spark.sources.corpus import pages_from_documents
    from doonop_spark.sources.warc import warc_corpus, write_warc_dir

    docs = _read(spark, sf_dir, "documents")
    corpus = pages_from_documents(spark, docs, n_hosts=20)
    warc_dir = tempfile.mkdtemp(prefix="doonop_warc_oracle_")
    try:
        write_warc_dir(corpus.repartition(8), warc_dir)
        job = CrawlJob(
            seeds=["http://h0000.example/d0"],
            engines=None,
            per_host_budget=100_000,
        )
        res = run_crawl(spark, job, warc_corpus(spark, warc_dir + "/*.warc.gz"))
        out = res.results.select("url", "data")
        # the crawl is fully materialized (run_crawl drives the waves), so
        # the archives are safe to remove once the results frame is built —
        # but results may still lazily re-scan; pin them first.
        out = out.localCheckpoint()
    finally:
        shutil.rmtree(warc_dir, ignore_errors=True)
    return out


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture index through the WARC format (sources/cdx.py): the
    documents-derived corpus is written as ``.warc.gz`` archives and
    indexed — one streaming task per archive, member-exact compressed
    offsets, HTTP status/mime parsed from the stored response, SHA-256
    page digest, SURT key, ts14 timestamp. Offsets and filenames depend
    on the runtime partition layout, so they are pinned by the
    random-access byte-equality tests (tests/test_cdx.py) rather than
    the SQL oracle; every content-determined field is exact-oracled here
    (the digest match proves the archived page bytes AND the parser's
    HTTP unwrapping are byte-faithful)."""
    import shutil
    import tempfile

    from doonop_spark.sources.cdx import cdx_index
    from doonop_spark.sources.corpus import pages_from_documents
    from doonop_spark.sources.warc import write_warc_dir

    docs = _read(spark, sf_dir, "documents")
    corpus = pages_from_documents(spark, docs, n_hosts=20)
    cdx_dir = tempfile.mkdtemp(prefix="doonop_cdx_oracle_")
    try:
        write_warc_dir(corpus.repartition(8), cdx_dir)
        out = (
            cdx_index(spark, cdx_dir + "/*.warc.gz")
            .select("url", "surt", "ts14", "status", "mime", "digest")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(cdx_dir, ignore_errors=True)
    return out


def q_cdxj_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup through the full CDXJ interchange path
    (sources/cdx.py): corpus → archives → cdx_index → write_cdxj
    (SURT-range shards) → read_cdxj filtered to every 50th document's
    SURT. A hash match here proves the sharded text round-trip returns
    exactly the captures the oracle computes closed-form. The key list is
    driver-side by design — it is the CDX client's query argument, one
    string per lookup."""
    import shutil
    import tempfile

    from doonop_spark.sources.cdx import cdx_index, read_cdxj, write_cdxj
    from doonop_spark.sources.corpus import pages_from_documents
    from doonop_spark.sources.warc import write_warc_dir

    docs = _read(spark, sf_dir, "documents")
    corpus = pages_from_documents(spark, docs, n_hosts=20)
    n = docs.count()
    keys = [f"example,h{i % 20:04d})/d{i}" for i in range(0, n, 50)]
    tmp = tempfile.mkdtemp(prefix="doonop_cdxj_lookup_")
    try:
        adir, jdir = tmp + "/arcs", tmp + "/cdxj"
        write_warc_dir(corpus.repartition(8), adir)
        write_cdxj(cdx_index(spark, adir + "/*.warc.gz"), jdir, n_shards=8)
        out = (
            read_cdxj(spark, jdir)
            .filter(F.col("surt").isin(keys))
            .select("url", "surt", "ts14", "status", "mime", "digest")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# training-data operator suite
# ---------------------------------------------------------------------------

def q_quality_filter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published C4 + Gopher cleaning rules as one JVM projection
    (operators/qualityfilter.py). The synthetic documents carry no
    newlines or punctuation, so the query first decorates each into a
    4-line page — bullets, terminal punctuation, ellipses, 'javascript'
    / 'lorem ipsum' / brace / '#' injections, all keyed on doc_id
    arithmetic — exercising every rule in both directions; the oracle
    replays the decoration and every integer-arithmetic flag exactly."""
    from doonop_spark.operators.qualityfilter import quality_filter_chain

    docs = _read_wide(spark, sf_dir, "documents")
    i = F.col("doc_id")
    t = F.col("text")
    h = F.floor(F.length(t) / 2).cast("int")
    p1 = F.trim(F.substring(t, F.lit(1), h))
    p2 = F.trim(F.substring(t, h + 1, F.length(t)))
    line1 = F.concat(
        F.when(i % 5 == 0, F.lit("* ")).otherwise(F.lit("")),
        p1,
        F.when(i % 4 == 0, F.lit("."))
        .when(i % 4 == 1, F.lit("!"))
        .when(i % 4 == 2, F.lit("?"))
        .otherwise(F.lit("")),
    )
    line2 = F.concat(p2, F.when(i % 6 == 0, F.lit("...")).otherwise(F.lit(".")))
    line3 = F.concat(
        F.when(i % 11 == 0, F.lit("enable javascript to view this page"))
        .otherwise(F.lit("the end of that have with be to of and document")),
        F.when(i % 10 == 0, F.lit("…")).otherwise(F.lit(".")),
    )
    line4 = (
        F.when(i % 13 == 0, F.lit("lorem ipsum dolor sit amet."))
        .when(i % 17 == 0, F.lit("config { key: value }"))
        .otherwise(F.lit("more of the data# follows here."))
    )
    # one- vs two-sentence tail line so c4's >= 5-sentence page rule
    # fires in BOTH directions across the corpus
    line5 = (
        F.when(i % 3 == 0, F.lit("and so it goes on here."))
        .otherwise(F.lit("it is done here. we stop now."))
    )
    page = F.concat_ws("\n", line1, line2, line3, line4, line5)
    out = quality_filter_chain(docs.select("doc_id", page.alias("text")), "text")
    return out.select(
        "doc_id", "c4_n_kept_lines", "c4_n_sentences", "c4_has_lorem_ipsum",
        "c4_has_brace", "c4_keep", "g_n_words", "g_word_count_ok",
        "g_mean_word_len_ok", "g_symbol_ratio_ok", "g_bullet_ok",
        "g_ellipsis_ok", "g_alpha_ok", "g_stopword_ok", "g_keep", "keep",
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doonop_spark.operators.textdedup import dedup_exact

    docs = _read(spark, sf_dir, "documents")
    return dedup_exact(docs, "doc_id", "text")


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doonop_spark.functions.text import token_count_expr

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count_expr(F.col("text")).alias("n_tokens"))


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doonop_spark.functions.text import bpe_token_count_expr

    docs = _read_wide(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", bpe_token_count_expr(F.col("text")).alias("n_bpe_tokens")
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doonop_spark.functions.text import quality_features, quality_score_expr

    docs = _read_wide(spark, sf_dir, "documents")
    q = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        q["n_chars"].alias("n_chars"),
        q["n_words"].alias("n_words"),
        q["n_punct"].alias("n_punct"),
        q["n_digit"].alias("n_digit"),
        q["n_stop"].alias("n_stop"),
        quality_score_expr(F.col("text")).cast("boolean").alias("is_quality"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (duplicate lines, top word-2-gram
    coverage) as integer numerators/denominators — exact-oracled."""
    from doonop_spark.functions.text import repetition_stats

    docs = _read_wide(spark, sf_dir, "documents")
    r = repetition_stats(F.col("text"))
    return docs.select(
        "doc_id",
        r["n_lines"].alias("n_lines"),
        r["n_distinct_lines"].alias("n_distinct_lines"),
        r["n_2grams"].alias("n_2grams"),
        r["top_2gram_n"].alias("top_2gram_n"),
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level exact dedup groups (boilerplate detection). The synthetic
    documents are single distinct lines, so the driver runs with
    min_occurrences=1 — identical plan (explode → xxhash64 → hash agg),
    non-trivial result; the >=2 dedup semantics are pinned on crafted
    duplicates in tests/test_textdedup.py."""
    from doonop_spark.operators.textdedup import line_dedup_groups

    docs = _read(spark, sf_dir, "documents")
    return line_dedup_groups(docs, "doc_id", "text", min_occurrences=1)


def q_token_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: term + document frequency per whitespace token
    (tokenizer-training / IDF workload) — two-stage hash aggregation."""
    from doonop_spark.operators.vocab import token_vocab

    # plain _read: the first agg's exchange already parallelizes, and the
    # added round-robin shuffle measured as pure overhead at this scale
    docs = _read(spark, sf_dir, "documents")
    return token_vocab(docs, "doc_id", "text")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing end-to-end: deterministic synthetic PII (an email and
    an IPv4 derived from doc_id) is appended to each document, counted,
    and scrubbed; the scrubbed text is value-checked via its xxhash64.
    Patterns are restricted to the Java/RE2-identical regex subset."""
    from doonop_spark.functions.text import pii_counts, scrub_pii_expr

    docs = _read_wide(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
    )
    c = pii_counts(aug)
    return docs.select(
        "doc_id",
        c["email"].alias("n_emails"),
        c["ipv4"].alias("n_ips"),
        F.xxhash64(scrub_pii_expr(aug)).alias("scrub_hash"),
        F.length(scrub_pii_expr(aug)).alias("scrub_len"),
    )


def q_lang_quality_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doonop_spark.functions.text import quality_score_expr

    docs = _read_wide(spark, sf_dir, "documents")
    return (
        docs.withColumn("is_quality", quality_score_expr(F.col("text")))
        .groupBy("lang", "is_quality")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("sum_chars"))
    )


def q_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doonop_spark.operators.textdedup import ngram_jaccard_pairs

    docs = _read_wide(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", k=5, threshold=0.8).select(
        "id_a", "id_b", "shared", "n_a", "n_b"
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup keeper selection end-to-end: Jaccard pairs → connected
    components (iterative min-label propagation) → (doc_id, component_id);
    component_id = the cluster's canonical keeper. Oracle = recursive-CTE
    transitive closure over the identical pair set."""
    from doonop_spark.operators.textdedup import (
        dedup_components,
        ngram_jaccard_pairs,
    )

    docs = _read_wide(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=5, threshold=0.8)
    return dedup_components(pairs, vertices=docs.select("doc_id"))


def q_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates. Exact-oracled: the DuckDB SQL
    replays the full pipeline — Spark's xxhash64 included, via the
    generated XXH64-in-SQL expression; recall vs exact Jaccard is
    additionally covered in tests/."""
    from doonop_spark.operators.textdedup import minhash_lsh_pairs

    docs = _read_wide(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8).select(
        "id_a", "id_b"
    )


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doonop_spark.operators.textdedup import simhash_pairs

    docs = _read_wide(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", max_hamming=3)


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Karp-Rabin mod 2^64, window minima). The
    hash is plain integer arithmetic, so the DuckDB oracle replicates it
    exactly with HUGEINT math over the (all-ASCII) text bytes; the
    projected stats (size / signed min / signed max) are order-independent,
    dodging the unsigned-vs-signed sort difference between np.unique and
    list_sort."""
    from doonop_spark.functions.text import winnow_fingerprint_udf

    docs = _read_wide(spark, sf_dir, "documents")
    fp = winnow_fingerprint_udf(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(fp).alias("n_fp"),
        F.array_min(fp).alias("fp_min"),
        F.array_max(fp).alias("fp_max"),
    )


def q_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doonop_spark.functions.text import lang_id_udf

    docs = _read_wide(spark, sf_dir, "documents")
    return (
        docs.select(lang_id_udf(F.col("text")).alias("lang_guess"))
        .groupBy("lang_guess")
        .agg(F.count("*").alias("n"))
    )


def q_ann_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doonop_spark.operators.similarity import brute_force_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(5)
    out = brute_force_topk(emb, queries, k=10)
    return out.select("query_id", "neighbor_id", "rank")


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with n_probe = n_lists probes EVERY list, so the result is
    mathematically the brute-force top-k — the exact-scan DuckDB oracle
    applies verbatim (recall at n_probe < n_lists is pinned in
    tests/test_similarity.py)."""
    from doonop_spark.operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(5)
    return ivf_topk(emb, queries, k=10, n_lists=16, n_probe=16).select(
        "query_id", "neighbor_id", "rank"
    )


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket search. Exact-oracled: the fixed-seed
    hyperplanes are inlined into the DuckDB SQL, so the approximate result
    is itself deterministic and replayed bit-for-bit; recall vs brute
    force is additionally pinned in tests/test_similarity.py."""
    from doonop_spark.operators.similarity import lsh_bucket_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(5)
    return lsh_bucket_topk(emb, queries, k=10, n_planes=8, n_tables=8).select(
        "query_id", "neighbor_id", "rank"
    )


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine dedup (the exact oracle path). Threshold 0.45 sits
    in a >0.002-wide gap of the actual pairwise-cosine distribution at
    sf0.01/sf0.1 (max pair ≈ 0.513), so the result is non-empty and
    float32-vs-double boundary flips cannot occur."""
    from doonop_spark.operators.textdedup import embedding_cosine_pairs

    emb = _read(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(emb, "vec_id", "embedding", threshold=0.45).select(
        "id_a", "id_b"
    )


def q_embedding_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: hyperplane-LSH-bucketed pair candidates, exact-cosine
    verified (no false positives). Exact-oracled: the fixed-seed planes
    are inlined into the DuckDB SQL so the bucketing replays bit-for-bit;
    containment + recall vs brute force is pinned in
    tests/test_textdedup.py."""
    from doonop_spark.operators.textdedup import embedding_lsh_pairs

    emb = _read(spark, sf_dir, "embeddings")
    return embedding_lsh_pairs(
        emb, "vec_id", "embedding", threshold=0.45, n_planes=4, n_tables=16
    ).select("id_a", "id_b")


def q_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal fan-out plumbing: media synthesized from documents
    (every 5th doc is a 'video' of n_chars*10 ms), frames every 1000 ms."""
    from doonop_spark.functions.multimodal import sample_frames

    docs = _read(spark, sf_dir, "documents")
    media = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("video/mp4").alias("mime"),
        F.lit(320).alias("width"),
        F.lit(240).alias("height"),
        (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
    )
    return sample_frames(media, every_ms=1000)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode plumbing over opaque binary payloads. The fake codec expands
    sha256(payload) into an 8x8 frame, so its statistics ARE
    SQL-expressible: pixel_sum = round(mean·64·255) recovers the integer
    digest-byte sum exactly (float32 accumulation error ≤ 0.03 ≪ 0.5),
    giving this query an exact DuckDB oracle (hex-nibble arithmetic over
    DuckDB's sha256)."""
    from doonop_spark.functions.multimodal import decode_media

    docs = _read(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("image/png").alias("mime"),
        F.lit(8).alias("width"),
        F.lit(8).alias("height"),
        F.lit(0).alias("duration_ms"),
    )
    return decode_media(media).select(
        "media_id",
        F.round(F.col("mean") * (64 * 255)).cast("long").alias("pixel_sum"),
        F.col("shape")[0].alias("frame_h"),
        F.col("shape")[1].alias("frame_w"),
    )


def q_multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode with the REAL Netpbm codec (functions/multimodal.py
    netpbm_decode — pure numpy, no codec library): each document becomes a
    4x2 P6 image whose 24 raster bytes are the deterministic sequence
    (doc_id*37 + i*11) % 256, assembled entirely JVM-side (hex string →
    unhex → concat with the P6 header). pixel_sum = round(mean·24·255)
    recovers the exact integer byte sum, so DuckDB replays it with plain
    arithmetic — the real decoder is exact-oracled, not just the fake."""
    from doonop_spark.functions.multimodal import auto_decode, decode_media

    docs = _read(spark, sf_dir, "documents")  # 5k tiny payloads: repartition measured pure overhead
    i = F.col("doc_id")
    raster_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(23)),
            lambda k: F.lpad(F.hex(F.pmod(i * 37 + k * 11, F.lit(256))), 2, "0"),
        ),
        "",
    )
    media = docs.select(
        i.alias("media_id"),
        F.lit("image").alias("kind"),
        F.concat(F.encode(F.lit("P6\n4 2\n255\n"), "utf-8"), F.unhex(raster_hex)).alias(
            "payload"
        ),
        F.lit("image/x-portable-pixmap").alias("mime"),
        F.lit(4).alias("width"),
        F.lit(2).alias("height"),
        F.lit(0).alias("duration_ms"),
    )
    return decode_media(media, decoder=auto_decode).select(
        "media_id",
        F.round(F.col("mean") * (24 * 255)).cast("long").alias("pixel_sum"),
        F.col("shape")[0].alias("frame_h"),
        F.col("shape")[1].alias("frame_w"),
        F.col("shape")[2].alias("frame_c"),
    )


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 with the partitioned bloom sidecar as the crawl runs it
    (``SeenBloom.new_links``): candidates cleared by the bloom as
    definitely-new skip the exact anti-join; output must equal the plain
    anti-join (the oracle) — FPs only cost a probe."""
    from doonop_spark.operators.bloom import SeenBloom
    from doonop_spark.sources.tables import MemoryTableIO

    docs = _read(spark, sf_dir, "documents")
    key = F.col("doc_id").cast("string")
    cand = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id"), key.alias("ukey"), F.xxhash64(key).alias("url_hash")
    )
    seen = docs.filter(F.col("doc_id") % 3 == 0).select(
        key.alias("ukey"), F.xxhash64(key).alias("url_hash")
    )
    bloom = SeenBloom(
        MemoryTableIO(), seen, 0, n_partitions=8, expected_per_partition=1024, fp_rate=0.01
    )
    return bloom.new_links(cand, seen, 0).select("doc_id")


def q_bloom_dedup_copart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 with the bloom sidecar probed via the 10^10 path: candidates
    shuffle-hash join the bank blocks on (pid, blk) (operators/bloom.py
    bloom_flag_copartitioned) — the bank never touches the driver. The
    operator-level composition, without the crawl's ``SeenBloom``; same
    never-drop contract and oracle as ``bloom_dedup``."""
    from doonop_spark.operators.bloom import bloom_flag_copartitioned, build_bloom
    from doonop_spark.operators.dedup import SEEN_COLS

    docs = _read(spark, sf_dir, "documents")
    key = F.col("doc_id").cast("string")
    cand = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id"), key.alias("ukey"), F.xxhash64(key).alias("url_hash")
    )
    seen = docs.filter(F.col("doc_id") % 3 == 0).select(
        key.alias("ukey"), F.xxhash64(key).alias("url_hash")
    )
    bloom = build_bloom(seen, n_partitions=8, expected_per_partition=1024)
    flagged = bloom_flag_copartitioned(
        cand, bloom, n_partitions=8, expected_per_partition=1024
    )
    maybe = flagged.filter(F.col("__maybe")).drop("__maybe")
    fresh = flagged.filter(~F.col("__maybe")).drop("__maybe")
    checked = maybe.join(seen.select(*SEEN_COLS), on=SEEN_COLS, how="left_anti")
    return fresh.unionByName(checked).select("doc_id")


def q_minhash_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full 100 TB dedup deliverable as ONE pipeline: MinHash+banded-LSH
    near-dup pairs → connected components (min-label propagation) → drop
    every non-keeper. Returns the surviving doc ids. Oracle composes the
    XXH64-replay minhash pair SQL with a recursive-CTE transitive closure:
    keep doc_id iff min id reachable through pair edges is itself."""
    from doonop_spark.operators.textdedup import dedup_keep, minhash_lsh_pairs

    docs = _read_wide(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)
    return dedup_keep(docs, pairs, "doc_id").select("doc_id")


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split by content-keyed
    hashing (pmod(xxhash64(key), 100) range predicates) — reproducible at
    any parallelism, unlike randomSplit. Shuffle-free projection; the one
    groupBy here is only the verification aggregate."""
    from doonop_spark.operators.sampling import hash_split

    docs = _read(spark, sf_dir, "documents")
    lab = hash_split(docs, "doc_id", {"train": 80, "valid": 10, "test": 10})
    return lab.groupBy("split").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~20% corpus sample via hash bucketing: stable under
    repartitioning and re-runs, and nested (the 10% sample is a subset of
    the 20% one) — the curation primitive ``df.sample`` cannot provide."""
    from doonop_spark.operators.sampling import deterministic_sample

    docs = _read(spark, sf_dir, "documents")
    return deterministic_sample(docs, "doc_id", 20).select("doc_id")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixing primitive: keep 100% of en, 30% of de, 5% of zh,
    drop the rest — per-stratum deterministic hash selection, still a
    shuffle-free projection+filter."""
    from doonop_spark.operators.sampling import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "doc_id", "lang", {"en": 100, "de": 30, "zh": 5}
    ).select("doc_id", "lang")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: hash-shard, order by key within the
    shard, bin by running token budget (contiguous fill; a doc may
    straddle a boundary — the loader splits). One shuffle by shard + a
    bounded within-shard sort; no global sort at any scale."""
    from doonop_spark.operators.sampling import pack_sequences

    docs = _read(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", "n_chars", budget=5_000, n_shards=8).select(
        "doc_id", "shard", "bin", "offset_in_bin"
    )


def q_surt_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 SURT mode: aggressive seen-key (host reversed, www stripped,
    fragment dropped, query sorted) — the oracle is the closed form for
    the synthesized URLs."""
    from doonop_spark.functions.canonical import surt_key_udf

    docs = _read(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTP://WWW.h"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".Example.ORG:80/d"),
        F.col("doc_id").cast("string"),
        F.lit("?b=2&a=1#frag"),
    )
    return docs.select("doc_id", surt_key_udf(url).alias("surt"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/textdedup.py
    contamination_flags): docs sharing ANY word 8-gram with the
    "benchmark" subset (doc_id % 19 == 3 — a stand-in eval set) are
    flagged. Exact string-shingle semi-join against a broadcast benchmark
    shingle set — no hash collisions, fully SQL-replayable."""
    from doonop_spark.operators.textdedup import contamination_flags

    docs = _read_wide(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 19 == 3)
    return contamination_flags(docs, bench, k=8).select("doc_id", "contaminated")


def q_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word 5-gram shingling stats per document (the MinHash input)."""
    from doonop_spark.functions.text import word_shingles_expr

    docs = _read(spark, sf_dir, "documents")
    sh = F.array_distinct(word_shingles_expr(F.col("text"), 5))
    return docs.select("doc_id", F.size(sh).alias("n_shingles"))


# ---------------------------------------------------------------------------
# relational building blocks (joins/aggs the engine composes; §2.13 note)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped agg; money in integer cents so both engines hash
    identically (no float summation drift)."""
    li = _read(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents).alias("sum_base_cents"),
            F.sum(disc_cents).alias("sum_disc_cents"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped join + top-k (broadcast dim join)."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(F.sum(rev).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# driver contract
def q_cdx_closest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wayback-style temporal lookup through the full archive path: the
    corpus is written twice (original capture at t0+doc_id sec, a revisit
    at t0+3·doc_id sec), archived, CDX-indexed, and closest_capture picks
    each SURT's capture nearest t0+300 s (ties → earlier). The revisit is
    nearer for small doc_id, the original for large, so the oracle's CASE
    exercises both regimes plus the tie."""
    import shutil
    import tempfile

    from doonop_spark.sources.cdx import cdx_index, closest_capture
    from doonop_spark.sources.corpus import pages_from_documents
    from doonop_spark.sources.warc import write_warc_dir

    docs = _read(spark, sf_dir, "documents")
    corpus = pages_from_documents(spark, docs, n_hosts=20)
    t0 = F.unix_timestamp(F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    revisit = corpus.withColumn(
        "warc_ts",
        F.col("warc_ts")
        + F.make_dt_interval(secs=(F.lit(2) * (F.unix_timestamp("warc_ts") - t0))),
    )
    warc_dir = tempfile.mkdtemp(prefix="doonop_cdx_closest_")
    try:
        write_warc_dir(corpus.unionByName(revisit).repartition(8), warc_dir)
        cdx = cdx_index(spark, warc_dir + "/*.warc.gz")
        out = closest_capture(cdx, "2024-01-01 00:05:00").select(
            "url", "surt", "ts14", "digest"
        )
        out = out.localCheckpoint()
    finally:
        shutil.rmtree(warc_dir, ignore_errors=True)
    return out


def q_recrawl_due(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl scheduling off the index: archive the revisit
    corpus (latest capture of doc d at t0+3d sec), CDX-index it, and
    select every URL whose NEWEST capture predates t0+600 s — the
    refresh frontier (3d < 600 ⇔ doc_id < 200). Pure index-side: the
    corpus bytes are written but never re-read."""
    import shutil
    import tempfile

    from doonop_spark.sources.cdx import cdx_index, recrawl_due
    from doonop_spark.sources.corpus import pages_from_documents
    from doonop_spark.sources.warc import write_warc_dir

    docs = _read(spark, sf_dir, "documents")
    corpus = pages_from_documents(spark, docs, n_hosts=20)
    t0 = F.unix_timestamp(F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    revisit = corpus.withColumn(
        "warc_ts",
        F.col("warc_ts")
        + F.make_dt_interval(secs=(F.lit(2) * (F.unix_timestamp("warc_ts") - t0))),
    )
    warc_dir = tempfile.mkdtemp(prefix="doonop_recrawl_")
    try:
        write_warc_dir(corpus.unionByName(revisit).repartition(8), warc_dir)
        cdx = cdx_index(spark, warc_dir + "/*.warc.gz")
        out = recrawl_due(cdx, "2024-01-01 00:10:00").select("url", "surt", "ts14")
        out = out.localCheckpoint()
    finally:
        shutil.rmtree(warc_dir, ignore_errors=True)
    return out


def _doc_link_graph(
    spark: SparkSession, sf_dir: str, checkpoint: bool = True, wide: bool = True
):
    """(nodes, edges) of the pages_from_documents link graph, built by the
    REAL extraction path: corpus html → fused Arrow extract kernel →
    explode(links). The documents corpus links doc i → 2i+1, 2i+2 (binary
    tree), so the oracle side has a closed form over doc_id while the
    Spark side proves the extractor recovers exactly that graph."""
    from doonop_spark.functions.extract import extract_page_udf
    from doonop_spark.sources.corpus import pages_from_documents

    # wide=False: a single-action consumer reading the scan once is
    # fastest without the parallelizing repartition at this table size
    # (A/B warm: 0.8 s vs 1.0-1.4 s) — the exchange costs more than the
    # one-task extract it spreads out
    docs = (_read_wide if wide else _read)(spark, sf_dir, "documents")
    corpus = pages_from_documents(spark, docs, n_hosts=20)
    nodes = corpus.select(F.col("url").alias("node"))
    edges = corpus.withColumn("__p", extract_page_udf("url", "html")).select(
        F.col("url").alias("src"), F.explode("__p.links").alias("dst")
    )
    if checkpoint:
        # multi-action consumers (every PageRank iteration re-scans
        # edges): checkpoint so the Arrow extract kernel runs ONCE, in
        # parallel, instead of once per downstream action (guide §5).
        # Single-action consumers (degree_stats is one agg+join since its
        # round-6 rewrite) skip the blocking materialize.
        edges = edges.localCheckpoint(eager=True)
    return nodes, edges


def q_wat_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT interchange e2e (sources/wat.py): the documents corpus is
    materialized as Common-Crawl-style WAT metadata archives (links
    extracted by the fused flagship kernel, JSON envelope built JVM-side),
    streamed back, and exploded to the link-graph edge list. Closed-form
    oracle: doc i links to 2i+1 and 2i+2 inside the tree — a hash match
    proves envelope serialization, WARC framing, JVM-side JSON parsing,
    AND the extraction kernel all round-trip the graph exactly."""
    import shutil
    import tempfile

    from doonop_spark.sources.corpus import pages_from_documents
    from doonop_spark.sources.wat import read_wat_links, write_wat

    docs = _read(spark, sf_dir, "documents")
    corpus = pages_from_documents(spark, docs, n_hosts=20)
    wat_dir = tempfile.mkdtemp(prefix="doonop_wat_oracle_")
    try:
        # 8 archives measured FASTER than one-per-core here: at 5k records
        # the per-task Python fixed costs (worker handshake, Arrow setup,
        # gzip init) outweigh the extra parallelism (A/B warm: 1.2 s vs
        # 2.0 s) — kept at 8
        write_wat(corpus.repartition(8), wat_dir)
        out = read_wat_links(spark, wat_dir + "/*.warc.wat.gz").select(
            F.col("src").alias("url"), F.col("dst").alias("link")
        )
        out = out.localCheckpoint()
    finally:
        shutil.rmtree(wat_dir, ignore_errors=True)
    return out


def q_charset_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHATWG charset sniff (functions/encoding.py) over REAL synthesized
    page bytes: doc_id % 4 picks the declaration style (UTF-8 BOM bytes /
    meta charset=windows-1252 / http-equiv iso-8859-1 / none), the payload
    is built JVM-side (unhex BOM + encoded markup), and charset_of sniffs
    the bytes back — the oracle replays the closed form, so a hash match
    proves BOM dispatch, the meta-tag prescan regex, and the priority
    order on genuine binary input. Detection is a pure JVM expression
    (plan-asserted UDF-free in tests/test_encoding.py)."""
    from doonop_spark.functions.encoding import charset_of

    docs = _read_wide(spark, sf_dir, "documents")
    body = F.concat(F.lit("<html><main>"), F.col("text"), F.lit("</main></html>"))
    m = F.col("doc_id") % 4
    payload = (
        F.when(m == 0, F.concat(F.unhex(F.lit("EFBBBF")), F.encode(body, "utf-8")))
        .when(
            m == 1,
            F.encode(
                F.concat(F.lit('<meta charset="Windows-1252">'), body), "utf-8"
            ),
        )
        .when(
            m == 2,
            F.encode(
                F.concat(
                    F.lit(
                        '<meta http-equiv="Content-Type" '
                        'content="text/html; charset=ISO-8859-1">'
                    ),
                    body,
                ),
                "utf-8",
            ),
        )
        .otherwise(F.encode(body, "utf-8"))
    )
    return docs.select(
        "doc_id",
        F.coalesce(charset_of(payload), F.lit("utf-8")).alias("charset"),
    )


def q_link_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph degrees over the extracted edge set (two hash aggs).
    Closed-form oracle: out_deg = #children inside the tree, in_deg = 1
    for every node but the root."""
    from doonop_spark.operators.graph import degree_stats

    nodes, edges = _doc_link_graph(spark, sf_dir, checkpoint=False, wide=False)
    return degree_stats(nodes, edges).select(
        F.col("node").alias("url"), "out_deg", "in_deg"
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-fixed-point PageRank (4 iterations, damping 0.85, scale
    10^12) over the extracted link graph — exact BIGINT arithmetic end to
    end, so the DuckDB oracle (the same recurrence as an unrolled CTE
    chain) matches bit-for-bit; see operators/graph.py for why floats
    could never be hash-compared here."""
    from doonop_spark.operators.graph import pagerank_fixed_point

    nodes, edges = _doc_link_graph(spark, sf_dir)
    return pagerank_fixed_point(nodes, edges, iterations=4).select(
        F.col("node").alias("url"), "rank_fp"
    )


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data text normalization: control-strip → NFC compose →
    whitespace collapse → trim. Non-ASCII material is synthesized
    deterministically (combining acute/diaeresis, a bell control, tab
    runs, trailing spaces by doc_id%4) so the NFC path is actually
    exercised; the oracle replays the pipeline with DuckDB's
    ``nfc_normalize`` — a value match proves Python's unicodedata and
    DuckDB compose identically AND the ASCII-gated UDF never touches
    pass-through rows' bytes."""
    from doonop_spark.functions.text import normalize_text_expr

    docs = _read_wide(spark, sf_dir, "documents")
    suffix = F.element_at(
        F.array(
            F.lit(""),
            F.lit(" café "),            # combining acute -> café
            F.lit(" \x07Ä\t\tb"),       # bell control, combining diaeresis, tab run
            F.lit("  trailing   "),
        ),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    norm = normalize_text_expr(F.concat(F.col("text"), suffix))
    return docs.select("doc_id", norm.alias("norm_text")).select(
        "doc_id", "norm_text", F.length("norm_text").alias("n_chars_norm")
    )


def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level corpus rollup (the Common-Crawl host-stats artifact):
    one map-side-combinable hash agg keyed on the JVM-extracted host."""
    from doonop_spark.operators.corpusstats import host_stats

    docs = _read_wide(spark, sf_dir, "documents")
    corpus = docs.select(
        _doc_url(F.col("doc_id")).alias("url"), "text", "lang"
    )
    return host_stats(corpus)


def q_indegree_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-first frontier selection: top-k unvisited URLs by
    harvested in-degree (OPIC-lite). The edge set is a deterministic
    hub-skewed graph (dst = doc_id % 23 for doc_id >= 23) so in-degrees
    actually vary; ties break on url, making the top-k total-ordered and
    exactly oracle-able."""
    from doonop_spark.operators.schedule import indegree_priority

    docs = _read(spark, sf_dir, "documents")
    frontier = docs.select(_doc_url(F.col("doc_id")).alias("url"))
    links = docs.filter(F.col("doc_id") >= 23).select(
        _doc_url(F.col("doc_id")).alias("src"),
        _doc_url(F.col("doc_id") % 23).alias("dst"),
    )
    return indegree_priority(frontier, links, k=50)


# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full BFS crawl of the corpus derived from the sf0.001
    documents table — byte-identical text per URL."""
    return q_crawl_bfs(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "seed_clean": q_seed_clean,
        "seen_anti_join": q_seen_anti_join,
        "batch_dedup_first": q_batch_dedup_first,
        "domain_allow_filter": q_domain_allow_filter,
        "regex_ignore_filter": q_regex_ignore_filter,
        "lifo_schedule": q_lifo_schedule,
        "retry_ripeness": q_retry_ripeness,
        "retry_priority_order": q_retry_priority_order,
        "stats_agg": q_stats_agg,
        "politeness_topk": q_politeness_topk,
        "host_extract": q_host_extract,
        "url_normalize": q_url_normalize,
        "crawl_bfs": q_crawl_bfs,
        "warc_crawl": q_warc_crawl,
        "cdx_index": q_cdx_index,
        "cdxj_lookup": q_cdxj_lookup,
        "cdx_closest": q_cdx_closest,
        "recrawl_due": q_recrawl_due,
        "wat_links": q_wat_links,
        "charset_detect": q_charset_detect,
        "link_degrees": q_link_degrees,
        "pagerank": q_pagerank,
        "text_normalize": q_text_normalize,
        "host_stats": q_host_stats,
        "indegree_priority": q_indegree_priority,
        "dedup_exact": q_dedup_exact,
        "line_dedup": q_line_dedup,
        "token_vocab": q_token_vocab,
        "pii_scrub": q_pii_scrub,
        "token_count": q_token_count,
        "bpe_token_count": q_bpe_token_count,
        "quality_score": q_quality_score,
        "quality_filter_chain": q_quality_filter_chain,
        "repetition_stats": q_repetition_stats,
        "lang_quality_breakdown": q_lang_quality_breakdown,
        "ngram_jaccard_dedup": q_ngram_jaccard_dedup,
        "dedup_clusters": q_dedup_clusters,
        "minhash_lsh_dedup": q_minhash_lsh_dedup,
        "simhash_dedup": q_simhash_dedup,
        "winnow_fingerprint": q_winnow_fingerprint,
        "lang_id_heuristic": q_lang_id_heuristic,
        "ann_topk_exact": q_ann_topk_exact,
        "ann_topk_ivf": q_ann_topk_ivf,
        "ann_topk_lsh": q_ann_topk_lsh,
        "embedding_dedup": q_embedding_dedup,
        "embedding_dedup_lsh": q_embedding_dedup_lsh,
        "frame_sampling": q_frame_sampling,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_decode_real": q_multimodal_decode_real,
        "decontaminate": q_decontaminate,
        "bloom_dedup": q_bloom_dedup,
        "bloom_dedup_copart": q_bloom_dedup_copart,
        "minhash_dedup_keep": q_minhash_dedup_keep,
        "dataset_split": q_dataset_split,
        "deterministic_sample": q_deterministic_sample,
        "stratified_sample": q_stratified_sample,
        "pack_sequences": q_pack_sequences,
        "surt_key": q_surt_key,
        "shingles": q_shingles,
        "pricing_summary": q_pricing_summary,
        "top_orders": q_top_orders,
    }


# --- XXH64 in DuckDB SQL -----------------------------------------------------
# Spark's xxhash64 is spec XXH64 (Yann Collet's public xxHash, seed 42,
# little-endian) — verified bit-for-bit against F.xxhash64 on empty /
# sub-4 / sub-8 / sub-32 / stripe-boundary / 100+-byte inputs. Replaying
# it in SQL lets the MinHash and SimHash pipelines be exact-oracled.
# Arithmetic is HUGEINT mod 2^64; 64x64-bit multiplies use a 32-bit split
# (the 128-bit product would overflow HUGEINT). Assumes 1 char == 1 byte
# (ASCII — same assumption as the winnowing oracle; holds for the
# synthetic documents corpus).

_XXP1 = 11400714785074694791
_XXP2 = 14029467366897019727
_XXP3 = 1609587929392839161
_XXP4 = 9650029242287828579
_XXP5 = 2870177450012600261
_M64 = 1 << 64
_M32 = 1 << 32


def _hg(v: int) -> str:
    return f"CAST({v} AS HUGEINT)"


_let_counter = [0]


def _let(expr: str, body) -> str:
    """SQL let-binding via a 1-element list_transform — keeps generated
    expressions linear in size instead of exponential."""
    _let_counter[0] += 1
    v = f"xx{_let_counter[0]}"
    return f"list_transform([{expr}], {v} -> {body(v)})[1]"


def _mulmod(a: str, b_const: int) -> str:
    """(a * b) % 2^64, a in [0,2^64), b a 64-bit constant (32-bit split)."""
    bl, bh = b_const % _M32, b_const // _M32
    return _let(
        a,
        lambda v: f"((((({v}) // {_M32}) * {_hg(bl)} + (({v}) % {_M32}) * {_hg(bh)})"
        f" % {_M32}) * {_M32} + (({v}) % {_M32}) * {_hg(bl)}) % {_hg(_M64)}",
    )


def _rotl(x: str, r: int) -> str:
    return _let(
        x, lambda v: f"((({v}) * {1 << r}) % {_hg(_M64)} + (({v}) // {1 << (64 - r)}))"
    )


def _xxh64_sql(s_expr: str, seed: int = 42) -> str:
    """SQL expr: signed-BIGINT XXH64 of the ASCII string expr
    (bit-identical to Spark ``F.xxhash64(string)``)."""
    v10 = (seed + _XXP1 + _XXP2) % _M64
    v20 = (seed + _XXP2) % _M64
    v30 = seed % _M64
    v40 = (seed - _XXP1) % _M64

    def xxh_round(v: str, k: str) -> str:
        inner = _let(k, lambda kk: f"(({v}) + {_mulmod(kk, _XXP2)}) % {_hg(_M64)}")
        return _mulmod(_rotl(inner, 31), _XXP1)

    def merge_round(h: str, v: str) -> str:
        r0 = _mulmod(_rotl(_mulmod(v, _XXP2), 31), _XXP1)
        return _let(
            f"xor({h}, {r0})",
            lambda u: f"({_mulmod(u, _XXP1)} + {_hg(_XXP4)}) % {_hg(_M64)}",
        )

    def body(s: str) -> str:
        bl_expr = (
            f"list_transform(generate_series(1, length({s})), xxbi -> "
            f"CAST(ord(substr({s}, xxbi, 1)) AS HUGEINT))"
        )

        def with_bl(bl: str) -> str:
            def w64(o: str) -> str:
                return (
                    "("
                    + " + ".join(
                        f"{bl}[({o})+{j}] * {_hg(1 << (8 * j))}" for j in range(8)
                    )
                    + ")"
                )

            def w32(o: str) -> str:
                return (
                    "("
                    + " + ".join(
                        f"{bl}[({o})+{j}] * {_hg(1 << (8 * j))}" for j in range(4)
                    )
                    + ")"
                )

            n = f"length({s})"
            stripes = (
                f"list_transform(generate_series(0, ({n}) // 32 - 1), xxsi -> ["
                + ", ".join(w64(f"32*xxsi + {1 + 8 * j}") for j in range(4))
                + "])"
            )
            acc0 = f"[{_hg(v10)}, {_hg(v20)}, {_hg(v30)}, {_hg(v40)}]"
            step = (
                "(acc, ks) -> ["
                + ", ".join(xxh_round(f"acc[{j + 1}]", f"ks[{j + 1}]") for j in range(4))
                + "]"
            )
            vs = f"list_reduce(list_prepend({acc0}, {stripes}), {step})"

            def merged(vsv: str) -> str:
                h0 = (
                    f"({_rotl(f'{vsv}[1]', 1)} + {_rotl(f'{vsv}[2]', 7)}"
                    f" + {_rotl(f'{vsv}[3]', 12)} + {_rotl(f'{vsv}[4]', 18)}) % {_hg(_M64)}"
                )
                for j in range(4):
                    h0 = merge_round(h0, f"{vsv}[{j + 1}]")
                return h0

            h_init = _let(
                vs,
                lambda vsv: f"CASE WHEN ({n}) >= 32 THEN {merged(vsv)} "
                f"ELSE {_hg((seed + _XXP5) % _M64)} END",
            )
            h_len = f"({h_init} + ({n})) % {_hg(_M64)}"

            words8 = (
                f"list_transform(generate_series(0, (({n}) % 32) // 8 - 1), xxwj -> "
                + w64(f"(({n}) // 32) * 32 + 8*xxwj + 1")
                + ")"
            )
            round0k = _mulmod(_rotl(_mulmod("k", _XXP2), 31), _XXP1)
            step8 = (
                f"(a, k) -> ({_mulmod(_rotl(f'xor(a, {round0k})', 27), _XXP1)}"
                f" + {_hg(_XXP4)}) % {_hg(_M64)}"
            )
            h8 = f"list_reduce(list_prepend({h_len}, {words8}), {step8})"

            def h4(hh: str) -> str:
                k4 = w32(f"({n}) - (({n}) % 8) + 1")
                return (
                    f"CASE WHEN ({n}) % 8 >= 4 THEN "
                    f"({_mulmod(_rotl(f'xor({hh}, ({k4} * {_hg(_XXP1)}) % {_hg(_M64)})', 23), _XXP2)}"
                    f" + {_hg(_XXP3)}) % {_hg(_M64)} ELSE {hh} END"
                )

            hb_in = _let(h8, h4)
            tailb = f"{bl}[(({n}) - (({n}) % 4) + 1):({n})]"
            stepb = (
                f"(a, b) -> "
                f"{_mulmod(_rotl(f'xor(a, (b * {_hg(_XXP5)}) % {_hg(_M64)})', 11), _XXP1)}"
            )
            hb = f"list_reduce(list_prepend({hb_in}, {tailb}), {stepb})"

            av = _let(hb, lambda h: f"xor({h}, ({h}) // {1 << 33})")
            av = _mulmod(av, _XXP2)
            av = _let(av, lambda h: f"xor({h}, ({h}) // {1 << 29})")
            av = _mulmod(av, _XXP3)
            av = _let(av, lambda h: f"xor({h}, ({h}) // {1 << 32})")
            return (
                f"CAST(CASE WHEN {av} >= {_hg(1 << 63)} THEN {av} - {_hg(_M64)} "
                f"ELSE {av} END AS BIGINT)"
            )

        return _let(bl_expr, with_bl)

    return _let(s_expr, body)


def _xxh64_unsigned_sql(s_expr: str) -> str:
    """XXH64 as HUGEINT in [0, 2^64) — for bit/modular post-processing."""
    signed = _xxh64_sql(s_expr)
    return (
        f"list_transform([{signed}], xxsv -> CASE WHEN xxsv < 0 "
        f"THEN CAST(xxsv AS HUGEINT) + {_hg(_M64)} ELSE CAST(xxsv AS HUGEINT) END)[1]"
    )


def _simhash_oracle_sql() -> str:
    """DuckDB replay of ``textdedup.simhash_pairs``: whitespace tokens
    (duplicates kept) → XXH64 per token → per-bit majority vote → 16-bit
    chunk pigeonhole buckets → Hamming ≤ 3 verify. Bit-exact: the token
    hash replays Spark's xxhash64 and the voting is integer-only."""
    tok_hashes = (
        "list_transform(regexp_split_to_array(trim(text), '\\s+'), xxtok -> "
        + _xxh64_unsigned_sql("xxtok")
        + ")"
    )
    pows = "[" + ", ".join(_hg(1 << j) for j in range(64)) + "]"
    sh_of = (
        f"list_transform([{pows}], xxpw -> "
        f"list_sum(list_transform(generate_series(1, 64), xxbj -> "
        f"CASE WHEN 2 * list_sum(list_transform(xxth, xxhh -> (xxhh // xxpw[xxbj]) % 2))"
        f" > len(xxth) THEN xxpw[xxbj] ELSE {_hg(0)} END)))[1]"
    )
    sh = f"list_transform([{tok_hashes}], xxth -> {sh_of})[1]"
    return f"""
        WITH hashed AS (
          SELECT doc_id AS doc, {sh} AS shu FROM documents
        ), sgn AS (
          SELECT doc, shu,
                 CAST(CASE WHEN shu >= {_hg(1 << 63)} THEN shu - {_hg(_M64)}
                      ELSE shu END AS BIGINT) AS sh
          FROM hashed
        ), chunks AS (
          SELECT doc, sh, c.chunk, CAST((shu // c.p) % 65536 AS INT) AS key
          FROM sgn, (VALUES (0, {_hg(1)}), (1, {_hg(1 << 16)}),
                            (2, {_hg(1 << 32)}), (3, {_hg(1 << 48)})) AS c(chunk, p)
        ), cand AS (
          SELECT DISTINCT x.doc AS id_a, y.doc AS id_b, x.sh AS sh_a, y.sh AS sh_b
          FROM chunks x JOIN chunks y USING (chunk, key)
          WHERE x.doc < y.doc
        )
        SELECT id_a, id_b, bit_count(xor(sh_a, sh_b)) AS hamming
        FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """


def _minhash_oracle_sql(
    k: int = 5, n_hashes: int = 128, n_bands: int = 32
) -> str:
    """DuckDB replay of ``textdedup.minhash_lsh_pairs``: distinct word
    5-shingles → XXH64 per shingle mod 2^61-1 → 128 affine-min signature
    components (same fixed-seed (a,b) params as the engine, inlined as
    literals) → XXH64 band keys over ','-joined 4-slices → bucket join →
    agreement ≥ 0.8 verify (integer form: 5·agree ≥ 512)."""
    import numpy as np

    m61 = (1 << 61) - 1
    rows_per_band = n_hashes // n_bands
    rng = np.random.default_rng(0xD00)
    a = rng.integers(1, m61, size=n_hashes, dtype=np.uint64)
    b = rng.integers(0, m61, size=n_hashes, dtype=np.uint64)
    A = "[" + ", ".join(_hg(int(x)) for x in a) + "]"
    B = "[" + ", ".join(_hg(int(x)) for x in b) + "]"

    tokens = "regexp_split_to_array(trim(text), '\\s+')"
    n_words = f"CASE WHEN trim(text) = '' THEN 0 ELSE len({tokens}) END"
    shingles = (
        f"CASE WHEN trim(text) = '' THEN [] "
        f"WHEN {n_words} <= {k} THEN [array_to_string({tokens}, ' ')] "
        f"ELSE list_transform(generate_series(1, {n_words} - {k - 1}),"
        f" xxi -> array_to_string({tokens}[xxi:xxi+{k - 1}], ' ')) END"
    )
    hv = (
        f"list_transform(list_distinct({shingles}), xxsg -> "
        + _xxh64_unsigned_sql("xxsg")
        + f" % {_hg(m61)})"
    )
    sig = (
        f"list_transform([{A}], xxaa -> list_transform([{B}], xxbb -> "
        f"list_transform([{hv}], xxhs -> "
        f"list_transform(generate_series(1, {n_hashes}), xxsi -> "
        f"CAST(list_min(list_transform(xxhs, xxhh ->"
        f" (xxaa[xxsi] * xxhh + xxbb[xxsi]) % {_hg(m61)})) AS BIGINT)"
        f"))[1]))[1][1]"
    )
    band_key = _xxh64_sql(
        f"array_to_string(list_transform("
        f"sg[bi.band*{rows_per_band}+1 : bi.band*{rows_per_band}+{rows_per_band}],"
        f" xxv -> CAST(xxv AS VARCHAR)), ',')"
    )
    band_rows = ", ".join(f"({i})" for i in range(n_bands))
    return f"""
        WITH sgn AS (
          SELECT doc_id AS doc, {sig} AS sg FROM documents
          WHERE len(list_distinct({shingles})) > 0
        ), bands AS (
          SELECT doc, bi.band AS band, {band_key} AS key
          FROM sgn, (VALUES {band_rows}) AS bi(band)
        ), cand AS (
          SELECT DISTINCT x.doc AS id_a, y.doc AS id_b
          FROM bands x JOIN bands y USING (band, key)
          WHERE x.doc < y.doc
        ), agree AS (
          SELECT id_a, id_b,
                 len(list_filter(generate_series(1, {n_hashes}),
                                 xxi -> sa.sg[xxi] = sb.sg[xxi])) AS n_agree
          FROM cand
          JOIN sgn sa ON sa.doc = id_a
          JOIN sgn sb ON sb.doc = id_b
        )
        SELECT id_a, id_b FROM agree WHERE n_agree * 5 >= {4 * n_hashes}
    """


def _lsh_bucket_list_sql(n_planes: int, n_tables: int, dim: int = 64) -> str:
    """DuckDB replay of ``similarity.signature_frame``: the fixed-seed
    hyperplanes are inlined as DOUBLE literals (repr round-trips exactly),
    so bucket keys match the engine bit-for-bit. Sign parity is safe: the
    smallest |dot| over sf0.01 embeddings x planes is 1.5e-4 (relative
    1.7e-5), ~11 orders of magnitude above float64 summation noise."""
    from doonop_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes * n_tables)

    def dot(i: int) -> str:
        lits = ", ".join(repr(float(x)) for x in planes[i])
        return f"list_dot_product(CAST(embedding AS DOUBLE[]), [{lits}])"

    buckets = []
    for t in range(n_tables):
        bits = " + ".join(
            f"(CASE WHEN {dot(t * n_planes + p)} > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )
        buckets.append(f"({bits} + {t << n_planes})")
    return "[" + ", ".join(buckets) + "]"


def _pii_scrub_oracle_sql() -> str:
    """DuckDB replay of ``q_pii_scrub``: same augmented text, same
    Java/RE2-common patterns (RE2 'g' flag for replace-all), scrubbed
    value checked via the XXH64-in-SQL replay."""
    from doonop_spark.functions.text import PII_PATTERNS

    aug = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)"
    )
    scrub = aug
    for pat, token in PII_PATTERNS.values():
        scrub = f"regexp_replace({scrub}, '{pat}', '{token}', 'g')"
    n_email = f"len(regexp_extract_all({aug}, '{PII_PATTERNS['email'][0]}'))"
    n_ip = f"len(regexp_extract_all({aug}, '{PII_PATTERNS['ipv4'][0]}'))"
    return f"""
        WITH s AS (
          SELECT doc_id, {n_email} AS n_emails, {n_ip} AS n_ips,
                 {scrub} AS scrubbed
          FROM documents
        )
        SELECT doc_id, n_emails, n_ips,
               {_xxh64_sql("scrubbed")} AS scrub_hash,
               length(scrubbed) AS scrub_len
        FROM s
    """


def _lang_id_oracle_sql() -> str:
    """DuckDB replay of ``lang_id_py``: whitespace-split lowercase words,
    count stopword-marker hits per language, argmax with first-language-
    wins tie-break (the kernel's ``n > best_n`` iteration order)."""
    from doonop_spark.functions.text import _LANG_MARKERS

    langs = list(_LANG_MARKERS)
    words = "regexp_split_to_array(lower(text), '\\s+')"
    counts = ", ".join(
        f"len(list_filter({words}, w -> w IN ("
        + ", ".join(f"'{m}'" for m in _LANG_MARKERS[lang])
        + f"))) AS c_{lang}"
        for lang in langs
    )
    whens = " ".join(
        "WHEN "
        + (" AND ".join(f"c_{lang} >= c_{o}" for o in langs[i + 1 :]) or "TRUE")
        + f" THEN '{lang}'"
        for i, lang in enumerate(langs)
    )
    guess = (
        f"CASE WHEN c_{langs[0]} IS NULL THEN NULL"
        f" WHEN greatest({', '.join('c_' + l for l in langs)}) = 0"
        f" THEN 'und' {whens} END"
    )
    return f"""
        WITH c AS (SELECT {counts} FROM documents)
        SELECT {guess} AS lang_guess, count(*) AS n FROM c GROUP BY 1
    """


def _quality_filter_oracle_sql() -> str:
    """DuckDB replay of ``q_quality_filter_chain``: re-derive the 4-line
    decorated page from doc_id arithmetic, then evaluate every C4 and
    Gopher flag with the same integer-arithmetic thresholds the Spark
    operator uses (operators/qualityfilter.py) — list_filter/
    list_transform mirror F.filter/F.transform element-for-element."""
    page = (
        "(CASE WHEN doc_id % 5 = 0 THEN '* ' ELSE '' END)"
        " || trim(substr(text, 1, length(text) // 2))"
        " || (CASE doc_id % 4 WHEN 0 THEN '.' WHEN 1 THEN '!'"
        " WHEN 2 THEN '?' ELSE '' END)"
        " || chr(10)"
        " || trim(substr(text, length(text) // 2 + 1))"
        " || (CASE WHEN doc_id % 6 = 0 THEN '...' ELSE '.' END)"
        " || chr(10)"
        " || (CASE WHEN doc_id % 11 = 0 THEN 'enable javascript to view this page'"
        " ELSE 'the end of that have with be to of and document' END)"
        " || (CASE WHEN doc_id % 10 = 0 THEN '…' ELSE '.' END)"
        " || chr(10)"
        " || (CASE WHEN doc_id % 13 = 0 THEN 'lorem ipsum dolor sit amet.'"
        " WHEN doc_id % 17 = 0 THEN 'config { key: value }'"
        " ELSE 'more of the data# follows here.' END)"
        " || chr(10)"
        " || (CASE WHEN doc_id % 3 = 0 THEN 'and so it goes on here.'"
        " ELSE 'it is done here. we stop now.' END)"
    )
    stop_list = "['the','be','to','of','and','that','have','with']"
    return f"""
        WITH pg AS (
          SELECT doc_id, {page} AS page FROM documents
        ), c4 AS (
          SELECT doc_id, page,
            array_to_string(
              list_transform(
                list_filter(regexp_split_to_array(page, '\\n'),
                  ln -> regexp_matches(trim(ln), '[.!?"]$')
                        AND len(regexp_split_to_array(trim(ln), '\\s+')) >= 3
                        AND NOT contains(lower(ln), 'javascript')),
                x -> trim(x)),
              chr(10)) AS clean
          FROM pg
        ), g AS (
          SELECT doc_id, page, clean,
            CASE WHEN regexp_replace(page, '^\\s+|\\s+$', '', 'g') = '' THEN []
                 ELSE regexp_split_to_array(
                        regexp_replace(page, '^\\s+|\\s+$', '', 'g'),
                        '\\s+') END AS words,
            regexp_split_to_array(page, '\\n') AS lines
          FROM c4
        ), m AS (
          SELECT doc_id, clean,
            len(words) AS n_words,
            len(lines) AS n_lines,
            coalesce(list_sum(list_transform(words, w -> length(w))), 0)
              AS total_chars,
            len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
              AS n_alpha_words,
            len(list_filter(lines, ln -> regexp_matches(ln, '^\\s*[-*•]')))
              AS n_bullet,
            len(list_filter(lines,
                ln -> regexp_matches(ln, '(\\.\\.\\.|…)\\s*$')))
              AS n_ell_lines,
            (length(page) - length(replace(page, '#', '')))
              + (length(page) - length(replace(page, '...', ''))) // 3
              + (length(page) - length(replace(page, '…', ''))) AS n_symbols,
            len(list_intersect(list_transform(words, w -> lower(w)),
                {stop_list})) AS n_stop,
            len(list_filter(regexp_split_to_array(clean, '[.!?]'),
                s -> trim(s) != '')) AS n_sentences,
            contains(lower(page), 'lorem ipsum') AS has_lorem,
            contains(page, '{{') AS has_brace
          FROM g
        ), fl AS (
          SELECT doc_id,
            CASE WHEN clean = '' THEN 0
                 ELSE len(regexp_split_to_array(clean, '\\n')) END
              AS c4_n_kept_lines,
            n_sentences AS c4_n_sentences,
            has_lorem AS c4_has_lorem_ipsum,
            has_brace AS c4_has_brace,
            (NOT has_lorem AND NOT has_brace AND n_sentences >= 5) AS c4_keep,
            n_words AS g_n_words,
            (n_words >= 50 AND n_words <= 100000) AS g_word_count_ok,
            (n_words > 0 AND total_chars >= 3 * n_words
             AND total_chars <= 10 * n_words) AS g_mean_word_len_ok,
            (n_words > 0 AND 10 * n_symbols < n_words) AS g_symbol_ratio_ok,
            (10 * n_bullet < 9 * n_lines) AS g_bullet_ok,
            (10 * n_ell_lines < 3 * n_lines) AS g_ellipsis_ok,
            (n_words > 0 AND 5 * n_alpha_words >= 4 * n_words) AS g_alpha_ok,
            (n_stop >= 2) AS g_stopword_ok
          FROM m
        )
        SELECT doc_id, c4_n_kept_lines, c4_n_sentences, c4_has_lorem_ipsum,
               c4_has_brace, c4_keep, g_n_words, g_word_count_ok,
               g_mean_word_len_ok, g_symbol_ratio_ok, g_bullet_ok,
               g_ellipsis_ok, g_alpha_ok, g_stopword_ok,
               (g_word_count_ok AND g_mean_word_len_ok AND g_symbol_ratio_ok
                AND g_bullet_ok AND g_ellipsis_ok AND g_alpha_ok
                AND g_stopword_ok) AS g_keep,
               (c4_keep AND g_word_count_ok AND g_mean_word_len_ok
                AND g_symbol_ratio_ok AND g_bullet_ok AND g_ellipsis_ok
                AND g_alpha_ok AND g_stopword_ok) AS keep
        FROM fl
    """


def _pagerank_sql(
    doc_url_of, iterations: int = 4, scale: int = 10**12,
    damping_num: int = 85, damping_den: int = 100,
) -> str:
    """DuckDB replay of operators/graph.py::pagerank_fixed_point as an
    unrolled CTE chain — same integer recurrence (`//` floor-div on
    non-negative BIGINTs ≡ Spark's truncating `div`), so ranks match
    bit-for-bit. Every per-iteration sum is CAST back to BIGINT because
    DuckDB widens sum(BIGINT) to HUGEINT."""
    c = "(SELECT c FROM n)"
    base = f"(({damping_den - damping_num} * ({scale} // {c})) // {damping_den})"
    ctes = [
        "n AS (SELECT count(*) AS c FROM documents)",
        "nodes AS (SELECT doc_id AS node FROM documents)",
        f"""edges AS (
              SELECT doc_id AS src, doc_id * 2 + 1 AS dst FROM documents
              WHERE doc_id * 2 + 1 < {c}
              UNION ALL
              SELECT doc_id AS src, doc_id * 2 + 2 AS dst FROM documents
              WHERE doc_id * 2 + 2 < {c})""",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, CAST({scale} // {c} AS BIGINT) AS rank_fp FROM nodes)",
    ]
    for k in range(1, iterations + 1):
        p = k - 1
        ctes.append(
            f"""d{k} AS (
              SELECT CAST(coalesce(sum(r.rank_fp), 0) AS BIGINT) AS dang
              FROM r{p} r LEFT JOIN deg d ON r.node = d.src
              WHERE d.src IS NULL)"""
        )
        ctes.append(
            f"""i{k} AS (
              SELECT e.dst AS node,
                     CAST(sum(r.rank_fp // d.outdeg) AS BIGINT) AS m
              FROM edges e
              JOIN r{p} r ON e.src = r.node
              JOIN deg d ON e.src = d.src
              GROUP BY e.dst)"""
        )
        ctes.append(
            f"""r{k} AS (
              SELECT nd.node,
                     CAST({base}
                       + ({damping_num} * (coalesce(i.m, 0)
                            + (SELECT dang FROM d{k}) // {c})) // {damping_den}
                       AS BIGINT) AS rank_fp
              FROM nodes nd LEFT JOIN i{k} i ON nd.node = i.node)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT {doc_url_of('node')} AS url, rank_fp FROM r{iterations}"
    )


def oracle_sql() -> dict[str, str]:
    doc_url = (
        "'http://h' || lpad(CAST(doc_id % 20 AS VARCHAR), 4, '0')"
        " || '.example/d' || CAST(doc_id AS VARCHAR)"
    )

    def _doc_url_of(e: str) -> str:
        """pages_from_documents URL of an arbitrary doc-id expression."""
        return (
            f"'http://h' || lpad(CAST(({e}) % 20 AS VARCHAR), 4, '0')"
            f" || '.example/d' || CAST({e} AS VARCHAR)"
        )
    seed_url = (
        "'http://h' || lpad(CAST((doc_id % 50) % 20 AS VARCHAR), 4, '0')"
        " || '.example/d' || CAST(doc_id % 50 AS VARCHAR)"
    )
    surt_sql = (
        "'example,h' || lpad(CAST(doc_id % 20 AS VARCHAR), 4, '0')"
        " || ')/d' || CAST(doc_id AS VARCHAR)"
    )
    # sha256 of the synthesized page html (pages_from_documents layout) —
    # shared by the cdx_index and cdx_closest oracles
    digest_sql = f"""sha256('<html><head><title>' || {doc_url}
                     || '</title></head><body>'
                     || (CASE WHEN doc_id * 2 + 1 < (SELECT count(*) FROM documents)
                         THEN '<a href="' || {_doc_url_of("doc_id * 2 + 1")} || '">l</a>'
                         ELSE '' END)
                     || (CASE WHEN doc_id * 2 + 2 < (SELECT count(*) FROM documents)
                         THEN '<a href="' || {_doc_url_of("doc_id * 2 + 2")} || '">l</a>'
                         ELSE '' END)
                     || '<main>' || replace(replace(text, '&', '&amp;'), '<', '&lt;')
                     || '</main></body></html>')"""
    tokens = "regexp_split_to_array(trim(text), '\\s+')"
    n_words = f"CASE WHEN trim(text) = '' THEN 0 ELSE len({tokens}) END"
    n_punct = "length(regexp_replace(text, '[^.,;:!?]', '', 'g'))"
    n_alpha = "length(regexp_replace(text, '[^A-Za-z]', '', 'g'))"
    n_digit = "length(regexp_replace(text, '[^0-9]', '', 'g'))"
    n_stop = (
        "CASE WHEN trim(text) = '' THEN 0 ELSE len(list_filter("
        "regexp_split_to_array(lower(trim(text)), '\\s+'),"
        " w -> w IN ('the','and','of','to','a','in','is','that'))) END"
    )
    is_quality = (
        f"(length(text) >= 10 AND length(text) <= 100000 AND {n_words} >= 3"
        f" AND {n_alpha} <= {n_words} * 20 AND {n_alpha} >= {n_words}"
        f" AND {n_digit} * 3 <= {n_alpha}"
        f" AND ({n_punct} > 0 OR {n_stop} > 0))"
    )
    shingles = (
        f"CASE WHEN trim(text) = '' THEN [] "
        f"WHEN {n_words} <= 5 THEN [array_to_string({tokens}, ' ')] "
        f"ELSE list_transform(generate_series(1, {n_words} - 4),"
        f" i -> array_to_string({tokens}[i:i+4], ' ')) END"
    )
    jaccard_pairs = f"""
            WITH sh AS (
              SELECT doc_id AS doc, list_distinct({shingles}) AS s FROM documents
              WHERE len({shingles}) > 0
            ), ex AS (
              SELECT doc, unnest(list_distinct(s)) AS shingle FROM sh
            ), counts AS (
              SELECT doc, len(list_distinct(s)) AS n_sh FROM sh
            ), shared AS (
              SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS shared
              FROM ex a JOIN ex b USING (shingle)
              WHERE a.doc < b.doc GROUP BY 1, 2
            )
            SELECT id_a, id_b, shared, ca.n_sh AS n_a, cb.n_sh AS n_b
            FROM shared
            JOIN counts ca ON ca.doc = id_a
            JOIN counts cb ON cb.doc = id_b
            WHERE shared * 1000000 >= 800000 * (ca.n_sh + cb.n_sh - shared)
    """
    return {
        "seed_clean": f"""
            SELECT DISTINCT {seed_url} AS url FROM documents
            WHERE NOT regexp_matches({seed_url}, '/h0003\\.')
            ORDER BY url
        """,
        "seen_anti_join": """
            SELECT event_id FROM events
            WHERE event_id % 2 = 0
              AND event_id NOT IN (SELECT event_id FROM events WHERE event_id % 3 = 0)
        """,
        "batch_dedup_first": """
            SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM (
              SELECT user_id, event_id, ts,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
              FROM events) WHERE rn = 1
        """,
        "domain_allow_filter": """
            SELECT doc_id, source FROM documents
            WHERE regexp_replace(source, '^www\\.', '') IN ('src1','src7','src13')
        """,
        "regex_ignore_filter": """
            SELECT doc_id FROM documents
            WHERE NOT regexp_matches(text, 'merge [a-z]+ scan')
        """,
        "lifo_schedule": """
            SELECT event_id, epoch_us(ts) AS ts_us FROM events
            ORDER BY ts DESC, event_id DESC LIMIT 100
        """,
        "retry_ripeness": """
            SELECT event_id, epoch_us(ts) AS ts_us FROM events
            WHERE ts <= TIMESTAMP '2024-01-05 00:00:00'
            ORDER BY ts ASC, event_id ASC LIMIT 100
        """,
        "retry_priority_order": """
            SELECT event_id, event_type, epoch_us(ts) AS ts_us FROM events
            ORDER BY (CASE WHEN event_type = 'error' THEN 0 ELSE 1 END) ASC,
                     ts DESC, event_id DESC
            LIMIT 100
        """,
        "stats_agg": """
            SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "politeness_topk": """
            SELECT user_id, event_id, rn FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) WHERE rn <= 3
        """,
        "host_extract": f"""
            SELECT doc_id, regexp_extract({doc_url}, '^[a-z]+://([^/]+)', 1) AS host
            FROM documents
        """,
        "url_normalize": """
            SELECT doc_id,
                   'http://h' || CAST(doc_id % 9 AS VARCHAR) || '.example.com/p'
                     || CAST(doc_id AS VARCHAR) AS url
            FROM documents
        """,
        "crawl_bfs": f"""
            SELECT {doc_url} AS url, text AS data FROM documents
        """,
        "warc_crawl": f"""
            SELECT {doc_url} AS url, text AS data FROM documents
        """,
        "cdx_index": f"""
            SELECT {doc_url} AS url, {surt_sql} AS surt,
                   strftime(TIMESTAMP '2024-01-01 00:00:00'
                            + to_seconds(doc_id), '%Y%m%d%H%M%S') AS ts14,
                   200 AS status, 'text/html' AS mime,
                   {digest_sql} AS digest
            FROM documents
        """,
        "cdxj_lookup": f"""
            SELECT {doc_url} AS url, {surt_sql} AS surt,
                   strftime(TIMESTAMP '2024-01-01 00:00:00'
                            + to_seconds(doc_id), '%Y%m%d%H%M%S') AS ts14,
                   200 AS status, 'text/html' AS mime,
                   {digest_sql} AS digest
            FROM documents
            WHERE doc_id % 50 = 0
        """,
        "cdx_closest": f"""
            WITH pick AS (
              SELECT doc_id,
                     CASE WHEN abs(3 * doc_id - 300) < abs(doc_id - 300)
                            THEN 3 * doc_id
                          WHEN abs(3 * doc_id - 300) > abs(doc_id - 300)
                            THEN doc_id
                          ELSE doc_id END AS sec
              FROM documents)
            SELECT {doc_url} AS url, {surt_sql} AS surt,
                   strftime(TIMESTAMP '2024-01-01 00:00:00'
                            + to_seconds(p.sec), '%Y%m%d%H%M%S') AS ts14,
                   {digest_sql} AS digest
            FROM documents JOIN pick p USING (doc_id)
        """,
        "recrawl_due": f"""
            SELECT {doc_url} AS url, {surt_sql} AS surt,
                   strftime(TIMESTAMP '2024-01-01 00:00:00'
                            + to_seconds(3 * doc_id), '%Y%m%d%H%M%S') AS ts14
            FROM documents WHERE 3 * doc_id < 600
        """,
        "charset_detect": """
            SELECT doc_id,
                   CASE CAST(doc_id % 4 AS INTEGER)
                     WHEN 0 THEN 'utf-8'
                     WHEN 1 THEN 'windows-1252'
                     WHEN 2 THEN 'iso-8859-1'
                     ELSE 'utf-8' END AS charset
            FROM documents
        """,
        "wat_links": f"""
            WITH n AS (SELECT count(*) AS c FROM documents),
            kids AS (
                SELECT doc_id, doc_id * 2 + 1 AS kid FROM documents
                UNION ALL
                SELECT doc_id, doc_id * 2 + 2 AS kid FROM documents
            )
            SELECT {_doc_url_of("doc_id")} AS url,
                   {_doc_url_of("kid")} AS link
            FROM kids WHERE kid < (SELECT c FROM n)
        """,
        "link_degrees": f"""
            WITH n AS (SELECT count(*) AS c FROM documents)
            SELECT {doc_url} AS url,
                   CAST(CASE WHEN doc_id * 2 + 2 < (SELECT c FROM n) THEN 2
                             WHEN doc_id * 2 + 1 < (SELECT c FROM n) THEN 1
                             ELSE 0 END AS BIGINT) AS out_deg,
                   CAST(CASE WHEN doc_id = 0 THEN 0 ELSE 1 END AS BIGINT) AS in_deg
            FROM documents
        """,
        "pagerank": _pagerank_sql(_doc_url_of),
        # NFC replay: chr(769)=U+0301 combining acute, chr(776)=U+0308
        # combining diaeresis, chr(7)=BEL (stripped), chr(9)=TAB
        # (collapsed) — built with chr() so the oracle's decomposed forms
        # can never be silently NFC'd by an editor/transport
        "text_normalize": """
            WITH aug AS (
              SELECT doc_id,
                     text || CASE CAST(doc_id % 4 AS INT)
                       WHEN 0 THEN ''
                       WHEN 1 THEN ' cafe' || chr(769) || ' '
                       WHEN 2 THEN ' ' || chr(7) || 'A' || chr(776)
                                 || chr(9) || chr(9) || 'b'
                       ELSE '  trailing   ' END AS t
              FROM documents
            ), norm AS (
              SELECT doc_id,
                     trim(regexp_replace(
                       nfc_normalize(regexp_replace(
                         t, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')),
                       '\\s+', ' ', 'g')) AS norm_text
              FROM aug
            )
            SELECT doc_id, norm_text, length(norm_text) AS n_chars_norm
            FROM norm
        """,
        "host_stats": f"""
            SELECT regexp_extract({doc_url}, '^[a-z]+://([^/]+)', 1) AS host,
                   count(*) AS n_pages,
                   CAST(sum(length(text)) AS BIGINT) AS sum_chars,
                   count(DISTINCT lang) AS n_langs,
                   CAST(sum(CASE WHEN {is_quality} THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_quality
            FROM documents GROUP BY 1
        """,
        "indegree_priority": f"""
            WITH indeg AS (
              SELECT {_doc_url_of("doc_id % 23")} AS url, count(*) AS in_deg
              FROM documents WHERE doc_id >= 23 GROUP BY 1
            )
            SELECT d.url, COALESCE(i.in_deg, 0) AS in_deg
            FROM (SELECT {doc_url} AS url FROM documents) d
            LEFT JOIN indeg i USING (url)
            ORDER BY in_deg DESC, url ASC
            LIMIT 50
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS keeper_id, count(*) AS n_dups
            FROM documents GROUP BY text
        """,
        "token_count": f"""
            SELECT doc_id, {n_words} AS n_tokens FROM documents
        """,
        "bpe_token_count": """
            SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens
            FROM documents
        """,
        "quality_score": f"""
            SELECT doc_id, length(text) AS n_chars, {n_words} AS n_words,
                   {n_punct} AS n_punct, {n_digit} AS n_digit, {n_stop} AS n_stop,
                   {is_quality} AS is_quality
            FROM documents
        """,
        "line_dedup": f"""
            WITH l AS (
              SELECT doc_id AS doc,
                     trim(unnest(regexp_split_to_array(text, '\\n'))) AS line
              FROM documents
            )
            SELECT {_xxh64_sql("line")} AS line_hash,
                   count(*) AS n_occurrences,
                   count(DISTINCT doc) AS n_docs
            FROM l WHERE line != ''
            GROUP BY 1 HAVING count(*) >= 1
        """,
        "pii_scrub": _pii_scrub_oracle_sql(),
        "quality_filter_chain": _quality_filter_oracle_sql(),
        "token_vocab": """
            WITH t AS (
              SELECT doc_id AS doc,
                     unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
              FROM documents WHERE trim(text) != ''
            )
            SELECT token,
                   count(*) AS n_occurrences,
                   count(DISTINCT doc) AS n_docs
            FROM t GROUP BY token
        """,
        "repetition_stats": f"""
            WITH r AS (
              SELECT doc_id,
                     list_filter(list_transform(regexp_split_to_array(text, '\\n'),
                                                l -> trim(l)), l -> l != '') AS lines,
                     CASE WHEN {n_words} < 2 THEN []
                          ELSE list_transform(generate_series(1, {n_words} - 1),
                                              i -> {tokens}[i] || ' ' || {tokens}[i+1])
                     END AS grams
              FROM documents
            ), g AS (
              SELECT doc_id, unnest(grams) AS gram FROM r
            ), t AS (
              SELECT doc_id, max(cnt) AS top FROM (
                SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2
              ) GROUP BY 1
            )
            SELECT r.doc_id,
                   len(lines) AS n_lines,
                   len(list_distinct(lines)) AS n_distinct_lines,
                   len(grams) AS n_2grams,
                   CAST(coalesce(t.top, 0) AS INT) AS top_2gram_n
            FROM r LEFT JOIN t ON r.doc_id = t.doc_id
        """,
        "lang_quality_breakdown": f"""
            SELECT lang, {is_quality} AS is_quality, count(*) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang, is_quality
        """,
        "ngram_jaccard_dedup": jaccard_pairs,
        # transitive closure of the SAME pair set, min-reachable-label per
        # doc; isolated docs are singleton components of themselves
        "dedup_clusters": f"""
            WITH RECURSIVE edges AS (
              SELECT id_a AS a, id_b AS b FROM ({jaccard_pairs})
              UNION ALL
              SELECT id_b AS a, id_a AS b FROM ({jaccard_pairs})
            ), r AS (
              SELECT doc_id AS v, doc_id AS u FROM documents
              UNION
              SELECT r.v, e.b FROM r JOIN edges e ON r.u = e.a
            )
            SELECT v AS doc_id, CAST(min(u) AS BIGINT) AS component_id
            FROM r GROUP BY v
        """,
        "frame_sampling": """
            SELECT doc_id AS media_id,
                   unnest(range(0, n_chars * 10, 1000)) AS frame_ts_ms
            FROM documents WHERE doc_id % 5 = 0 AND n_chars * 10 >= 1
        """,
        "bloom_dedup": """
            SELECT doc_id FROM documents
            WHERE doc_id % 2 = 0 AND doc_id % 3 <> 0
        """,
        # exact Karp-Rabin replication: per 8-gram, sum(byte_j * base^(7-j))
        # mod 2^64 in HUGEINT (powers of 1000003 precomputed mod 2^64);
        # winnow window=4 minima (unsigned order = HUGEINT order), distinct,
        # two's-complement into BIGINT; text is verified all-ASCII so
        # ord(char) == utf-8 byte. Output stats are order-independent.
        "winnow_fingerprint": """
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN length(text) < 8 THEN rpad(text, 8, ' ')
                          ELSE text END AS s
              FROM documents WHERE length(text) > 0
            ), h AS (
              SELECT doc_id,
                list_transform(generate_series(1, greatest(length(s) - 7, 1)), i ->
                  ( ord(substr(s, i+0, 1)) * CAST(12924618581234127435 AS HUGEINT)
                  + ord(substr(s, i+1, 1)) * CAST(10923514805226455897 AS HUGEINT)
                  + ord(substr(s, i+2, 1)) * CAST(14453212906556403763 AS HUGEINT)
                  + ord(substr(s, i+3, 1)) * CAST(14003818205314896721 AS HUGEINT)
                  + ord(substr(s, i+4, 1)) * CAST(1000009000027000027 AS HUGEINT)
                  + ord(substr(s, i+5, 1)) * CAST(1000006000009 AS HUGEINT)
                  + ord(substr(s, i+6, 1)) * CAST(1000003 AS HUGEINT)
                  + ord(substr(s, i+7, 1))
                  ) % CAST(18446744073709551616 AS HUGEINT)
                ) AS rh
              FROM t
            ), sel AS (
              SELECT doc_id,
                CASE WHEN len(rh) <= 4 THEN [list_min(rh)]
                     ELSE list_transform(generate_series(1, len(rh) - 3),
                                         i -> list_min(rh[i:i+3]))
                END AS mins
              FROM h
            ), fp AS (
              SELECT doc_id,
                list_distinct(list_transform(mins, v ->
                  CAST(CASE WHEN v >= CAST(9223372036854775808 AS HUGEINT)
                            THEN v - CAST(18446744073709551616 AS HUGEINT)
                            ELSE v END AS BIGINT))) AS f
              FROM sel
            )
            SELECT doc_id, len(f) AS n_fp,
                   list_min(f) AS fp_min, list_max(f) AS fp_max
            FROM fp
        """,
        # fake codec: frame = sha256(payload) digest duplicated to 64 bytes
        # /255 ⇒ pixel_sum = 2 × (sum of the 32 digest bytes), recovered
        # here by hex-nibble arithmetic; shape is the fixed 8×8 frame
        "multimodal_decode": """
            WITH d AS (SELECT doc_id AS media_id, sha256(text) AS h FROM documents)
            SELECT media_id,
                   CAST(2 * list_sum(list_transform(generate_series(0, 31), i ->
                        (strpos('0123456789abcdef', substr(h, 1 + 2*i, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substr(h, 2 + 2*i, 1)) - 1)
                   )) AS BIGINT) AS pixel_sum,
                   CAST(8 AS INT) AS frame_h, CAST(8 AS INT) AS frame_w
            FROM d
        """,
        # word-8-gram overlap vs the doc_id % 19 == 3 "benchmark" subset;
        # slicing toks[i:i+7] is INCLUSIVE in DuckDB (8 tokens), matching
        # Spark's F.slice(words, i, 8)
        "decontaminate": """
            WITH t AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(text), '\\s+') AS toks,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                     END AS nw
              FROM documents
            ), sh AS (
              SELECT doc_id,
                CASE WHEN nw = 0 THEN []
                     WHEN nw <= 8 THEN [array_to_string(toks, ' ')]
                     ELSE list_transform(generate_series(1, nw - 7),
                                         i -> array_to_string(toks[i:i+7], ' '))
                END AS shingles
              FROM t
            ), bsh AS (
              SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 19 = 3
            ), dsh AS (
              SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh
            ), hits AS (
              SELECT DISTINCT doc_id FROM dsh WHERE s IN (SELECT s FROM bsh)
            )
            SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        # REAL Netpbm codec oracle: the 24 raster bytes are (doc_id*37 +
        # i*11) % 256 by construction, so the decoded frame's pixel sum is
        # plain integer arithmetic — no blob handling needed
        "multimodal_decode_real": """
            SELECT doc_id AS media_id,
                   CAST(list_sum(list_transform(generate_series(0, 23), i ->
                        (doc_id * 37 + i * 11) % 256)) AS BIGINT) AS pixel_sum,
                   CAST(2 AS INT) AS frame_h,
                   CAST(4 AS INT) AS frame_w,
                   CAST(3 AS INT) AS frame_c
            FROM documents
        """,
        "surt_key": """
            SELECT doc_id,
                   'org,example,h' || CAST(doc_id % 20 AS VARCHAR) || ')/d'
                     || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS surt
            FROM documents
        """,
        "shingles": f"""
            SELECT doc_id, len(list_distinct({shingles})) AS n_shingles
            FROM documents
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_orders": """
            SELECT l_orderkey,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY l_orderkey
            ORDER BY revenue_cents DESC, l_orderkey ASC LIMIT 10
        """,
        "ann_topk_exact": """
            SELECT query_id, neighbor_id, rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                                c.vec_id ASC) AS rank
              FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 5) q
              CROSS JOIN embeddings c)
            WHERE rank <= 10
        """,
        # n_probe = n_lists scans every inverted list ⇒ exactly brute force
        "ann_topk_ivf": """
            SELECT query_id, neighbor_id, rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                                c.vec_id ASC) AS rank
              FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 5) q
              CROSS JOIN embeddings c)
            WHERE rank <= 10
        """,
        "embedding_dedup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45
        """,
        "lang_id_heuristic": _lang_id_oracle_sql(),
        "minhash_lsh_dedup": _minhash_oracle_sql(),
        # bloom is a pre-filter, not a semantics change: the crawl's
        # SeenBloom and the operator composition must both return exactly
        # the exact-anti-join answer
        "bloom_dedup_copart": """
            SELECT doc_id FROM documents
            WHERE doc_id % 2 = 0 AND doc_id % 3 <> 0
        """,
        # content-keyed hash split/sample: replay xxhash64 over the
        # stringified key, signed pmod, range predicates
        "dataset_split": f"""
            WITH b AS (
              SELECT ((({_xxh64_sql("CAST(doc_id AS VARCHAR)")}) % 100) + 100) % 100
                       AS bucket,
                     n_chars
              FROM documents
            )
            SELECT CASE WHEN bucket < 80 THEN 'train'
                        WHEN bucket < 90 THEN 'valid'
                        ELSE 'test' END AS split,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM b GROUP BY 1
        """,
        "deterministic_sample": f"""
            SELECT doc_id FROM documents
            WHERE ((({_xxh64_sql("CAST(doc_id AS VARCHAR)")}) % 100) + 100) % 100
                  < 20
        """,
        "stratified_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE ((({_xxh64_sql("CAST(doc_id AS VARCHAR)")}) % 100) + 100) % 100
                  < CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 30
                              WHEN 'zh' THEN 5 ELSE 0 END
        """,
        # running-sum window replay: shard = pmod(xxh64(key), 8); bins by
        # floor(previous cumulative n_chars / budget) within key order
        "pack_sequences": f"""
            WITH s AS (
              SELECT doc_id,
                     CAST(((({_xxh64_sql("CAST(doc_id AS VARCHAR)")}) % 8) + 8) % 8
                          AS INT) AS shard,
                     n_chars
              FROM documents
            ), c AS (
              SELECT doc_id, shard,
                     CAST(coalesce(sum(n_chars) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS BIGINT) AS prev
              FROM s
            )
            SELECT doc_id, shard,
                   CAST(prev // 5000 AS BIGINT) AS bin,
                   CAST(prev % 5000 AS BIGINT) AS offset_in_bin
            FROM c
        """,
        # the composed deliverable: minhash pair SQL (XXH64 replay) feeds a
        # recursive-CTE transitive closure; keep doc_id iff the min id
        # reachable through pair edges is itself (singletons keep trivially)
        "minhash_dedup_keep": f"""
            WITH RECURSIVE pairs AS (
              SELECT * FROM ({_minhash_oracle_sql()})
            ), edges AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL
              SELECT id_b AS a, id_a AS b FROM pairs
            ), r AS (
              SELECT doc_id AS v, doc_id AS u FROM documents
              UNION
              SELECT r.v, e.b FROM r JOIN edges e ON r.u = e.a
            )
            SELECT v AS doc_id FROM r
            GROUP BY v HAVING min(u) = v
        """,
        "simhash_dedup": _simhash_oracle_sql(),
        "embedding_dedup_lsh": f"""
            WITH sig AS (
              SELECT vec_id, {_lsh_bucket_list_sql(4, 16)} AS bks
              FROM embeddings
            ), ex AS (
              SELECT vec_id, unnest(bks) AS bucket FROM sig
            ), cand AS (
              SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
              FROM ex x JOIN ex y USING (bucket) WHERE x.vec_id < y.vec_id
            )
            SELECT id_a, id_b FROM cand
            JOIN embeddings a ON a.vec_id = id_a
            JOIN embeddings b ON b.vec_id = id_b
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45
        """,
        "ann_topk_lsh": f"""
            WITH sig AS (
              SELECT vec_id, {_lsh_bucket_list_sql(8, 8)} AS bks
              FROM embeddings
            ), ex AS (
              SELECT vec_id, unnest(bks) AS bucket FROM sig
            ), cand AS (
              SELECT DISTINCT qx.vec_id AS qid, cx.vec_id AS cid
              FROM ex qx JOIN ex cx USING (bucket)
              WHERE qx.vec_id IN
                (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 5)
            )
            SELECT qid AS query_id, cid AS neighbor_id, rank FROM (
              SELECT qid, cid, row_number() OVER (
                PARTITION BY qid
                ORDER BY list_cosine_similarity(qv.embedding, cv.embedding)
                           DESC, cid ASC) AS rank
              FROM cand JOIN embeddings qv ON qv.vec_id = qid
                        JOIN embeddings cv ON cv.vec_id = cid)
            WHERE rank <= 10
        """,
    }
