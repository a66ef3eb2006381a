"""PySpark-native fulltext inverted-index builder + BM25 top-k query engine.

A from-scratch re-expression of the capabilities of
Vivolance/rt-etl-yahoo-search-engine (reference at /root/reference, read-only):
the reference is a real-time ETL pipeline (aiohttp -> Kafka -> Yahoo SERP fetch
-> BeautifulSoup extraction -> Postgres).  This engine keeps its data model
(web pages -> extracted structured text), its extraction semantics
(byte-identical extracted text per url), and its query set, and replaces the
Kafka+Postgres serving stack with a batch inverted-index builder and BM25
query engine designed Spark-first for 10^12-document scale.

Layout:
  spec.py               single source of truth: tokenizer, BM25, tie-breaks
  functions/extract.py  HTML -> structured text (reference-parity, Arrow UDF)
  functions/tokenize.py text -> (term, doc_id, tf) posting emission
  functions/dedup.py    exact / minhash-LSH / simhash / ngram-jaccard dedup
  functions/similarity.py  embedding cosine top-k (brute force + LSH)
  functions/text_analysis.py  lang-id, quality, token counts, fingerprints
  sources/catalog.py    Iceberg-or-parquet table abstraction + manifests
  sources/synth.py      deterministic webtext corpus generator
  operators/codec.py    delta-gap + varbyte block codec (numpy)
  operators/index_build.py  docmap/postings/lexicon/stats build pipeline
  operators/topk.py     vectorized batch scorer + exhaustive oracle
  operators/unitscan.py the one per-unit posting scan under Spark plans
  plans/bm25.py         query-side planning (naive + optimized paths)
  streaming/ingest.py   Structured Streaming ingest (micro-batch parity)
"""

__version__ = "0.1.0"
