"""Regression: url_ordered builds must stay correct when the input table is
many SMALL files — Spark's small-file bin packing would otherwise put
non-adjacent files into one scan partition, producing posting blocks whose
doc ranges overlap across partitions (caught by the query cursor's
disjointness check, which raised on exactly this corpus shape before the
contiguous_splits guard in operators.index_build)."""

import pytest

from rt_etl_yahoo_search_engine_spark import spec
from rt_etl_yahoo_search_engine_spark.operators.index_build import build_index
from rt_etl_yahoo_search_engine_spark.plans.bm25 import topk, topk_oracle
from rt_etl_yahoo_search_engine_spark.sources.synth import write_pages


def test_url_ordered_text_tokenizer_dataframe_input(spark, tmp_path):
    """Regression: url_ordered + tokenizer='text' over a transformed
    DataFrame (the bench documents-table shape).  tokens_from_text used to
    build tf ∪ sentinels as a self-union, consuming the observed scan
    subtree twice; the duplicated CollectMetrics node evaluated
    spark_partition_id() in the union task's context, so the doc_id drift
    guard fired spuriously ("tokens doc_id drift") on a perfectly healthy
    build.  Single-pass grouping-sets tokenization keeps one consumer."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = docs.select(
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("url"),
        "text", "lang",
    )
    root = str(tmp_path / "idx_txt")
    build_index(spark, pages, root, n_shards=2, n_buckets=4,
                tokenizer="text", url_ordered=True)

    queries = {"qa": "scan column", "qb": "window sort"}
    got = topk(spark, root, queries, mode=spec.MODE_DISJUNCTIVE, k=10).collect()
    want = topk_oracle(
        spark, root, queries, mode=spec.MODE_DISJUNCTIVE, k=10
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    got_m = {key(r): (r["doc_id"], r["score"]) for r in got}
    want_m = {key(r): (r["doc_id"], r["score"]) for r in want}
    assert set(got_m) == set(want_m) and len(got_m) == 20
    for k_, (doc, score) in got_m.items():
        wdoc, wscore = want_m[k_]
        assert doc == wdoc, k_
        assert score == pytest.approx(wscore, abs=1e-9), k_


def test_url_ordered_text_tokenizer_multi_partition_tokens(spark, tmp_path):
    """Regression: url_ordered + tokenizer='text' whose tokens span several
    shuffle partitions.  tokens_from_text's grouping-sets aggregate
    hash-exchanges the tokens, so its files are not doc-contiguous;
    encoding them without the (term, shard) exchange wrote posting blocks
    with overlapping doc ranges, and topk raised "posting blocks overlap".
    The sf0.001 case above is small enough for AQE to coalesce the
    exchange into one partition, which hid it; here coalescing is off, so
    the tokens land in every shuffle partition whatever the data size."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(5)
    vocab = np.array([f"w{i:04d}" for i in range(2000)])
    n = 400
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), 100)])
        + (" alpha beta" if i % 5 == 0 else "")
        for i in range(n)
    ]
    (tmp_path / "pages").mkdir()
    pq.write_table(  # one url-sorted file: a valid url_ordered table
        pa.table({
            "url": [f"u{i:06d}" for i in range(n)],
            "text": texts,
            "lang": ["en"] * n,
        }),
        str(tmp_path / "pages" / "part-0.parquet"),
    )
    root = str(tmp_path / "idx")
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        build_index(spark, str(tmp_path / "pages"), root, n_shards=4,
                    n_buckets=8, tokenizer="text", url_ordered=True)
    finally:
        spark.conf.set(coalesce, old)

    queries = {"qa": "alpha beta", "qb": "w0003 w0120 w1999"}
    for mode in (spec.MODE_DISJUNCTIVE, spec.MODE_CONJUNCTIVE):
        got = topk(spark, root, queries, mode=mode, k=10).collect()
        want = topk_oracle(spark, root, queries, mode=mode, k=10).collect()
        key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
        got_m = {key(r): (r["doc_id"], r["score"]) for r in got}
        want_m = {key(r): (r["doc_id"], r["score"]) for r in want}
        assert set(got_m) == set(want_m) and len(got_m) > 0
        for k_, (doc, score) in got_m.items():
            wdoc, wscore = want_m[k_]
            assert doc == wdoc, k_
            assert score == pytest.approx(wscore, abs=1e-9), k_


def test_url_ordered_many_small_files(spark, tmp_path):
    pages = str(tmp_path / "pages")
    # 600 docs over 24 files (~25 docs each): far below the 16 MB split
    # size, so every scan partition would pack many files
    write_pages(spark, 600, pages, num_partitions=24)
    root = str(tmp_path / "idx")
    build_index(spark, pages, root, n_shards=4, n_buckets=4, url_ordered=True)

    queries = {"qa": "Chicken Rice", "qb": "Starbucks"}
    got = topk(spark, root, queries, mode=spec.MODE_DISJUNCTIVE, k=10).collect()
    want = topk_oracle(spark, root, queries, mode=spec.MODE_DISJUNCTIVE, k=10).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    got_m = {key(r): (r["doc_id"], r["score"]) for r in got}
    want_m = {key(r): (r["doc_id"], r["score"]) for r in want}
    assert set(got_m) == set(want_m) and len(got_m) > 0
    for k_, (doc, score) in got_m.items():
        wdoc, wscore = want_m[k_]
        assert doc == wdoc, k_
        assert score == pytest.approx(wscore, abs=1e-9), k_
