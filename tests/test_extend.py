"""Incremental extension (operators.index_build.extend_index):

  * extend(base, delta) answers every reference query with doc_ids and
    scores IDENTICAL to a fresh full build over base+delta (the delta urls
    sort after the base urls, so even doc_id assignment coincides);
  * scores stay exact when the global avgdl DRIFTS UP after an extension
    (delta docs much longer than base): every segment decodes against the
    CURRENT avgdl, verified against the exhaustive oracle;
  * the serving path reads the extended index identically;
  * visibility is atomic: before the registry commit a reader sees the base
    index unchanged.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rt_etl_yahoo_search_engine_spark import spec
from rt_etl_yahoo_search_engine_spark.operators.index_build import (
    build_index,
    extend_index,
)
from rt_etl_yahoo_search_engine_spark.plans.bm25 import topk, topk_oracle
from rt_etl_yahoo_search_engine_spark.plans.serve import LocalSearcher
from rt_etl_yahoo_search_engine_spark.sources.catalog import Catalog
from rt_etl_yahoo_search_engine_spark.sources.synth import synth_pages_df


def _collect(df):
    return {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in df.collect()
    }


def _assert_same(got, want, tol=1e-9):
    assert set(got) == set(want)
    for key, (doc, score) in got.items():
        wdoc, wscore = want[key]
        assert doc == wdoc, f"{key}: doc {doc} != {wdoc}"
        assert score == pytest.approx(wscore, abs=tol), key


@pytest.fixture(scope="module")
def corpora(spark, tmp_path_factory):
    """base = docs 0..799, delta = docs 800..1099 (urls sort after base),
    full = 0..1099 — all from the same deterministic generator."""
    root = tmp_path_factory.mktemp("extend")
    base, delta, full = (str(root / n) for n in ("base", "delta", "full"))
    synth_pages_df(spark, 800, num_partitions=8).write.parquet(base)
    synth_pages_df(spark, 1100, num_partitions=11).filter(
        F.col("url") >= "https://synth.example/en/00000800"
    ).write.parquet(delta)
    synth_pages_df(spark, 1100, num_partitions=11).write.parquet(full)
    return base, delta, full


@pytest.fixture(scope="module")
def extended_and_fresh(spark, corpora, tmp_path_factory):
    base, delta, full = corpora
    root = tmp_path_factory.mktemp("idx")
    ext_root, full_root = str(root / "ext"), str(root / "full")
    build_index(spark, base, ext_root, n_shards=3, n_buckets=4)
    extend_index(spark, delta, ext_root)
    build_index(spark, full, full_root, n_shards=3, n_buckets=4)
    return ext_root, full_root


@pytest.mark.parametrize("mode", [spec.MODE_DISJUNCTIVE, spec.MODE_CONJUNCTIVE])
def test_extend_equals_fresh_build(spark, extended_and_fresh, mode):
    ext_root, full_root = extended_and_fresh
    got = _collect(topk(spark, ext_root, spec.REFERENCE_QUERIES, mode=mode, k=10))
    want = _collect(topk(spark, full_root, spec.REFERENCE_QUERIES, mode=mode, k=10))
    assert len(got) > 0
    _assert_same(got, want)


def test_extend_registry_and_stats(spark, extended_and_fresh):
    ext_root, full_root = extended_and_fresh
    reg = Catalog(ext_root).read_registry()
    fresh = Catalog(full_root).read_registry()
    assert reg["version"] == 1 and len(reg["segments"]) == 2
    assert reg["n_docs"] == fresh["n_docs"]
    assert reg["sum_dl"] == fresh["sum_dl"]  # exact additive stats
    assert reg["avgdl"] == fresh["avgdl"]


def test_extend_serving_path(spark, extended_and_fresh):
    ext_root, full_root = extended_and_fresh
    got = LocalSearcher(ext_root).search_batch(spec.REFERENCE_QUERIES, k=10)
    want = LocalSearcher(full_root).search_batch(spec.REFERENCE_QUERIES, k=10)
    pd.testing.assert_frame_equal(
        got.sort_values(["query_id", "rank"]).reset_index(drop=True),
        want.sort_values(["query_id", "rank"]).reset_index(drop=True),
    )


def _text_pages(spark, start: int, n: int, words_per_doc: int):
    """Deterministic (url, text, lang) table; doc i's text mixes reference
    query terms with filler so every query matches, length controlled."""
    import numpy as np

    qterms = sorted({t for q in spec.REFERENCE_QUERIES.values()
                     for t in spec.tokenize(q)})
    rows = []
    for i in range(start, start + n):
        rng = np.random.default_rng(1_000 + i)
        words = [qterms[int(k)] for k in rng.integers(0, len(qterms), 5)]
        words += [f"f{int(k):03d}" for k in rng.integers(0, 400, words_per_doc - 5)]
        rows.append((f"{i:08d}", " ".join(words), "en"))
    return spark.createDataFrame(rows, "url string, text string, lang string")


def test_extend_avgdl_drift_up(spark, tmp_path):
    """Old segments must score against the CURRENT avgdl when it RISES
    after an extension: base docs are 30 words, delta docs 600 words
    (20x), so a decode against the base segment's encode-time avgdl would
    give wrong scores.  topk must still match the exhaustive oracle."""
    root = str(tmp_path / "idx")
    build_index(spark, _text_pages(spark, 0, 200, 30), root,
                n_shards=2, n_buckets=4, tokenizer="text")
    a0 = Catalog(root).read_registry()["avgdl"]
    extend_index(spark, _text_pages(spark, 200, 200, 600), root,
                 tokenizer="text")
    a1 = Catalog(root).read_registry()["avgdl"]
    assert a1 > a0 * 5  # avgdl genuinely drifted up
    for mode in (spec.MODE_DISJUNCTIVE, spec.MODE_CONJUNCTIVE):
        got = _collect(topk(spark, root, spec.REFERENCE_QUERIES, mode=mode, k=10))
        want = _collect(
            topk_oracle(spark, root, spec.REFERENCE_QUERIES, mode=mode, k=10)
        )
        assert len(got) > 0
        _assert_same(got, want)


def test_extend_resume_after_crash(spark, corpora, tmp_path, monkeypatch):
    """A crash before the registry commit leaves the base index visible and
    a rerun completes to the same result as an uninterrupted extension."""
    base, delta, full = corpora
    root = str(tmp_path / "idx")
    build_index(spark, base, root, n_shards=3, n_buckets=4)
    base_reg = Catalog(root).read_registry()

    import rt_etl_yahoo_search_engine_spark.operators.index_build as ib

    real_write_registry = Catalog.write_registry
    monkeypatch.setattr(
        Catalog, "write_registry",
        lambda self, reg: (_ for _ in ()).throw(RuntimeError("injected")),
    )
    with pytest.raises(RuntimeError, match="injected"):
        ib.extend_index(spark, delta, root)
    # pre-commit: reader still sees the base index only
    assert Catalog(root).read_registry()["n_docs"] == base_reg["n_docs"]
    monkeypatch.setattr(Catalog, "write_registry", real_write_registry)
    ib.extend_index(spark, delta, root)
    reg = Catalog(root).read_registry()
    assert reg["version"] == 1 and reg["n_docs"] > base_reg["n_docs"]
    got = _collect(topk(spark, root, spec.REFERENCE_QUERIES, k=10))
    want = _collect(topk_oracle(spark, root, spec.REFERENCE_QUERIES, k=10))
    _assert_same(got, want)


def test_extend_duplicate_rerun_refused(spark, extended_and_fresh, corpora):
    """A rerun whose (path, doc count) fingerprint matches the last committed
    segment is refused (at-least-once guard); allow_duplicate forces it."""
    ext_root, _ = extended_and_fresh
    _, delta, _ = corpora
    with pytest.raises(ValueError, match="already .*committed|committed as segment"):
        extend_index(spark, delta, ext_root)
    # a different source path (same engine, new batch) is NOT refused:
    # exercised implicitly by fingerprint comparing path first — here just
    # assert the registry was not advanced by the refused rerun
    reg = Catalog(ext_root).read_registry()
    assert reg["version"] == 1


@pytest.mark.parametrize("mode", [spec.MODE_DISJUNCTIVE, spec.MODE_CONJUNCTIVE])
def test_extend_chain_two_segments(spark, tmp_path, mode):
    """Two successive extensions (3 segments total) still answer every
    reference query identically to one fresh build over the whole corpus —
    the multi-segment merge and the per-segment avgdl correction must
    compose, not just hold for a single delta."""
    # all slices of ONE deterministic 1100-doc generation (synth content
    # depends on the generation size/partitioning, so slices must come from
    # the same run — same pattern as the `corpora` fixture)
    whole = synth_pages_df(spark, 1100, num_partitions=11)
    cuts = ("https://synth.example/en/00000600", "https://synth.example/en/00000900")
    paths = {}
    for name, df in (
        ("base", whole.filter(F.col("url") < cuts[0])),
        ("d1", whole.filter((F.col("url") >= cuts[0]) & (F.col("url") < cuts[1]))),
        ("d2", whole.filter(F.col("url") >= cuts[1])),
        ("full", whole),
    ):
        paths[name] = str(tmp_path / name)
        df.write.parquet(paths[name])

    ext_root, full_root = str(tmp_path / "ext"), str(tmp_path / "fullidx")
    build_index(spark, paths["base"], ext_root, n_shards=3, n_buckets=4)
    extend_index(spark, paths["d1"], ext_root)
    extend_index(spark, paths["d2"], ext_root)
    build_index(spark, paths["full"], full_root, n_shards=3, n_buckets=4)

    reg = Catalog(ext_root).read_registry()
    fresh_reg = Catalog(full_root).read_registry()
    # (n_docs < 1100: the synth corpus plants non-extractable /xx/ pages
    # that both the fresh and the extended build must drop identically)
    assert reg["version"] == 2 and reg["n_docs"] == fresh_reg["n_docs"]

    got = _collect(topk(spark, ext_root, spec.REFERENCE_QUERIES, mode=mode, k=10))
    want = _collect(topk(spark, full_root, spec.REFERENCE_QUERIES, mode=mode, k=10))
    assert len(got) > 0
    _assert_same(got, want)
    local = LocalSearcher(ext_root).search_batch(
        spec.REFERENCE_QUERIES, k=10, mode=mode
    )
    serve_map = {
        (q, int(r)): (int(d), float(s))
        for q, r, d, s in zip(
            local["query_id"], local["rank"], local["doc_id"], local["score"]
        )
    }
    _assert_same(serve_map, want)
