"""The benchmark's own tests: seeded inputs and exact counts repeat.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import layers  # noqa: E402


def _bytes(tbl) -> bytes:
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return sink.getvalue().to_pybytes()


def test_pages_same_seed_same_bytes():
    assert _bytes(gen.make_pages(7, 60)) == _bytes(gen.make_pages(7, 60))


def test_pages_other_seed_other_bytes():
    assert _bytes(gen.make_pages(7, 60)) != _bytes(gen.make_pages(8, 60))


def test_query_log_seeded():
    assert gen.query_log(3, 500) == gen.query_log(3, 500)
    assert gen.query_log(3, 500) != gen.query_log(4, 500)


def test_pages_schema_and_text():
    from rt_etl_yahoo_search_engine_spark.functions.extract import document_text

    tbl = gen.make_pages(1, 40, inject="freshzq")
    assert tbl.schema == gen.PAGES_SCHEMA
    rows = tbl.to_pylist()
    assert rows == sorted(rows, key=lambda r: r["url"])
    # the text column is what the engine extracts from the html
    for r in rows:
        assert document_text(r["html"].decode()) == r["text"]
    assert any("freshzq" in r["text"] for r in rows if r["lang"] == "en")


@pytest.fixture(scope="module")
def spark():
    from rt_etl_yahoo_search_engine_spark.session import get_spark

    s = get_spark(app="perfbench-tests", master="local[2]", driver_mem="1g")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _counts(spark, tmp_path, tag: str) -> dict:
    """Exact counts of one small build plus one serve pass over a log."""
    import workloads
    from rt_etl_yahoo_search_engine_spark.plans.serve import LocalSearcher

    ctx = workloads.Ctx(work=str(tmp_path / tag), seed=11,
                        seconds=1, trace=True, spark=spark)
    os.makedirs(ctx.work)
    pages, _ = workloads._pages(ctx, "pages", 120)
    idx = os.path.join(ctx.work, "idx")
    workloads._build(ctx, pages, idx)
    tracer = layers.Tracer()
    layers.wrap_serve(tracer)
    try:
        s = LocalSearcher(idx, preload=True)
        for q in gen.query_log(11, 200):
            s.search(q)
    finally:
        tracer.unwrap()
    m = layers.manifest_layers(idx)
    return {
        "index_bytes_per_doc": workloads._dir_bytes(idx) / workloads._live_docs(idx),
        "postings_rows": m["postings_rows"],
        "blocks": layers.index_blocks(idx),
        **dict(tracer.counts),
    }


def test_exact_counts_repeat(spark, tmp_path):
    a = _counts(spark, tmp_path, "a")
    b = _counts(spark, tmp_path, "b")
    assert a == b
    assert a["postings_rows"] > 0 and a["lexicon_misses"] > 0
