"""doonop_spark — a from-scratch PySpark-native crawl/analytics engine.

Re-expresses the capabilities of the reference crawler
(Plato-solutions/doonop, a Rust BFS/DFS web crawler) as idiomatic
Spark dataflow: the URL frontier, seen-set, robots gate, retry pool
and politeness scheduler become DataFrame operators over parquet
snapshot tables; fetch becomes a join against a Common-Crawl-style
pages corpus (url, warc_ts, html, text, lang); link/text extraction
are vectorized Arrow (pandas) UDFs.

Layout (maps SURVEY.md §2 operator ids to modules):

- functions/canonical.py  — P4 absolutize, P5 canonicalize, P6 host
- functions/extract.py    — P1 extract_links, P2 extract_text
- functions/text.py       — lang-id, quality, tokens, fingerprints
- functions/multimodal.py — binary-column decode plumbing (stubbed codecs)
- operators/filters.py    — F1-F5 regex/domain filters
- operators/robots.py     — F6/F7 robots.txt gate, S5
- operators/dedup.py      — D1-D3 seen-set dedup + corpus dedup suite
- operators/schedule.py   — O1-O6 wave scheduling, retry, politeness
- operators/bloom.py      — partitioned bloom sidecar for the seen set
- operators/similarity.py — ANN / LSH similarity search
- sources/tables.py       — snapshot TableIO (checkpoint/resume)
- sources/corpus.py       — deterministic synthetic page corpora, fetch side
- sources/seeds.py        — wave-0 seed frontier (seed list, DataFrame seeds)
- plans/job.py            — CrawlJob config (C1-C4)
- plans/loop.py           — run_crawl: the iterative wave driver (§3),
                            schedule → fetch → expand → commit over WaveState
"""

__version__ = "0.1.0"
