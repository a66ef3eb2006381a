"""Property tests for the production scorer stack (pure Python level — no
Spark): the term-level decode, taat_topk, DenseScorer and BatchScorer
against an independent naive exhaustive reference and against each other,
on random posting lists with adversarial ties, tiny blocks, and
single-posting terms."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rt_etl_yahoo_search_engine_spark import spec
from rt_etl_yahoo_search_engine_spark.operators.codec import (
    encode_doc_ids,
    encode_varbyte,
)
from rt_etl_yahoo_search_engine_spark.operators.topk import (
    BatchScorer,
    POSTINGS_READ_COLS,
    DenseScorer,
    decode_term_postings_raw,
    decode_term_postings_stream,
    decode_unit_postings_raw,
    decode_unit_postings_stream,
    taat_topk,
)


def _naive(term_postings, idfs, avgdl, k, mode, n_terms):
    """Independent exhaustive reference."""
    scores: dict[int, float] = {}
    counts: dict[int, int] = {}
    for t, (ids, tfs, dls) in term_postings.items():
        for doc, tf, dl in zip(ids, tfs, dls):
            part = (tf * (spec.K1 + 1.0)) / (
                tf + spec.K1 * (1.0 - spec.B + spec.B * dl / avgdl)
            )
            scores[doc] = scores.get(doc, 0.0) + idfs[t] * part
            counts[doc] = counts.get(doc, 0) + 1
    items = [
        (doc, s)
        for doc, s in scores.items()
        if mode == spec.MODE_DISJUNCTIVE or counts[doc] == n_terms
    ]
    items.sort(key=lambda x: (-x[1], x[0]))
    return items[:k]


@st.composite
def corpus(draw):
    n_docs = draw(st.integers(min_value=1, max_value=400))
    n_terms = draw(st.integers(min_value=1, max_value=5))
    # doc lens: small ints; ties encouraged via tiny ranges
    dl_map = {
        d: draw(st.integers(min_value=1, max_value=4)) * 10 for d in range(n_docs)
    }
    postings = {}
    for t in range(n_terms):
        docs = draw(
            st.lists(
                st.integers(min_value=0, max_value=n_docs - 1),
                min_size=1,
                max_size=min(n_docs, 120),
                unique=True,
            )
        )
        docs.sort()
        tfs = [draw(st.integers(min_value=1, max_value=3)) for _ in docs]
        postings[f"t{t}"] = (docs, tfs, [dl_map[d] for d in docs])
    k = draw(st.integers(min_value=1, max_value=15))
    block_size = draw(st.sampled_from([2, 3, 8, 128]))
    mode = draw(st.sampled_from([spec.MODE_DISJUNCTIVE, spec.MODE_CONJUNCTIVE]))
    return n_docs, postings, k, block_size, mode


def _make_blocks_pdf(idf, doc_ids, tfs, dls, avgdl, block_size):
    """The raw block frame (as read from a shard dir) for one term."""
    rows = []
    for s in range(0, len(doc_ids), block_size):
        e = min(s + block_size, len(doc_ids))
        ids = np.array(doc_ids[s:e])
        t = np.array(tfs[s:e])
        d = np.array(dls[s:e])
        parts = (t * (spec.K1 + 1.0)) / (
            t + spec.K1 * (1.0 - spec.B + spec.B * d / avgdl)
        )
        rows.append(
            {
                "shard": 0,
                "first_doc_id": ids[0],
                "last_doc_id": ids[-1],
                "block_max_part": parts.max(),
                "doc_ids_vb": encode_doc_ids(ids),
                "tfs_vb": encode_varbyte(t),
                "doc_lens_vb": encode_varbyte(d),
            }
        )
    return pd.DataFrame(rows)


@settings(max_examples=300, deadline=None)
@given(corpus())
def test_taat_equals_naive(c):
    """The term-level decode + vectorized TAAT scorer matches the
    independent exhaustive reference."""
    n_docs, postings, k, block_size, mode = c
    avgdl = 25.0
    idfs = {t: spec.idf(n_docs, len(p[0])) for t, p in postings.items()}
    decoded = [
        (
            *decode_term_postings_stream(
                _make_blocks_pdf(idfs[t], *p, avgdl=avgdl, block_size=block_size),
                avgdl,
            ),
            idfs[t],
        )
        for t, p in sorted(postings.items())
    ]
    got = taat_topk(decoded, k, mode, n_terms=len(postings))
    want = _naive(postings, idfs, avgdl, k, mode, len(postings))
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-9 * max(1.0, abs(ws))


@settings(max_examples=300, deadline=None)
@given(corpus())
def test_dense_equals_taat_bit_identical(c):
    """DenseScorer (scatter-add scratch, production batch + serve scorer)
    returns BIT-IDENTICAL (doc, score) tuples to the sparse taat_topk for
    both modes — the float add order per doc is the same ascending-term
    order — and the scratch reset leaves no state between calls (the same
    scorer instance is reused across all examples via a module global)."""
    n_docs, postings, k, block_size, mode = c
    avgdl = 25.0
    idfs = {t: spec.idf(n_docs, len(p[0])) for t, p in postings.items()}
    decoded = [
        (
            *decode_term_postings_stream(
                _make_blocks_pdf(idfs[t], *p, avgdl=avgdl, block_size=block_size),
                avgdl,
            ),
            idfs[t],
        )
        for t, p in sorted(postings.items())
    ]
    got = _DENSE.topk(decoded, k, mode, n_terms=len(postings))
    want = taat_topk(decoded, k, mode, n_terms=len(postings))
    assert got == want  # exact: doc ids AND float score bits


_DENSE = DenseScorer()


def _unit_table(frames: dict, order=None, chunks: int = 1) -> pa.Table:
    """One unit's block table (as the unit scan reads it) holding every
    term's block frame, rows in `order`, split into `chunks` record
    batches."""
    blocks = pd.concat(
        [f.assign(term=t) for t, f in frames.items()], ignore_index=True
    )
    if order is not None:
        blocks = blocks.iloc[order]
    tbl = pa.Table.from_pandas(blocks[POSTINGS_READ_COLS], preserve_index=False)
    cut = np.linspace(0, len(tbl), chunks + 1).astype(int)
    return pa.concat_tables(
        [tbl.slice(a, b - a) for a, b in zip(cut[:-1], cut[1:])]
    )


def _same_bytes(got, want) -> bool:
    return len(got) == len(want) and all(
        g.dtype == w.dtype and g.tobytes() == w.tobytes()
        for g, w in zip(got, want)
    )


def _assert_unit_decode_identical(frames: dict, tbl: pa.Table, avgdl: float):
    raw = decode_unit_postings_raw(tbl)
    stream = decode_unit_postings_stream(tbl, avgdl)
    assert list(raw) == list(stream) == sorted(frames)
    for t, f in frames.items():
        assert _same_bytes(raw[t], decode_term_postings_raw(f))
        assert _same_bytes(stream[t], decode_term_postings_stream(f, avgdl))


@settings(max_examples=100, deadline=None)
@given(corpus(), st.randoms(use_true_random=False),
       st.integers(min_value=1, max_value=3))
def test_unit_decoder_identical(c, rnd, chunks):
    """The unit decoder (one sort, one stream pass per column over the
    Arrow buffers, per-term views) gives byte-identical (ids, tfs, dls)
    and score parts to the per-term decoders, whatever the block row
    order and chunking of the unit's table."""
    _n_docs, postings, _k, block_size, _mode = c
    frames = {
        t: _make_blocks_pdf(1.0, *p, avgdl=25.0, block_size=block_size)
        for t, p in postings.items()
    }
    order = list(range(sum(len(f) for f in frames.values())))
    rnd.shuffle(order)
    _assert_unit_decode_identical(frames, _unit_table(frames, order, chunks), 25.0)


def test_unit_decoder_edge_cases():
    """A single-block term beside multi-block terms, shuffled rows, and a
    table with no matching terms."""
    frames = {
        "alpha": _make_blocks_pdf(1.0, [3, 7, 8, 20, 21, 40, 41], [1, 2, 1, 4, 1, 1, 9],
                                  [10, 20, 10, 30, 10, 10, 50], avgdl=17.0,
                                  block_size=2),
        "beta": _make_blocks_pdf(1.0, [5], [3], [40], avgdl=17.0, block_size=128),
        "gamma": _make_blocks_pdf(1.0, list(range(0, 300, 3)), [1] * 100,
                                  [12] * 100, avgdl=17.0, block_size=8),
    }
    n = sum(len(f) for f in frames.values())
    order = list(np.random.default_rng(5).permutation(n))
    tbl = _unit_table(frames, order, chunks=2)
    _assert_unit_decode_identical(frames, tbl, 17.0)
    assert decode_unit_postings_raw(tbl)["beta"][0].tolist() == [5]
    assert decode_unit_postings_raw(tbl.slice(0, 0)) == {}
    assert decode_unit_postings_stream(tbl.slice(0, 0), 17.0) == {}


def test_overlapping_blocks_raise():
    """The shared block decode refuses a term whose block doc ranges
    overlap (a wrong url_ordered declaration at build time) instead of
    silently dropping or duplicating docs — for every decoder, per-term
    and per-unit, since they share the one check."""
    pdf = _make_blocks_pdf(1.0, [1, 5, 9, 12], [1, 2, 1, 3], [10, 20, 10, 30],
                           avgdl=25.0, block_size=2)
    other = _make_blocks_pdf(1.0, [2, 3], [1, 1], [10, 10], avgdl=25.0,
                             block_size=1)
    pdf.loc[1, "first_doc_id"] = 4  # blocks [1, 5] and [4, 12] overlap
    unit = _unit_table({"a": pdf, "b": other})
    for decode, arg in (
        (decode_term_postings_raw, pdf),
        (lambda g: decode_term_postings_stream(g, 25.0), pdf),
        (decode_unit_postings_raw, unit),
        (lambda g: decode_unit_postings_stream(g, 25.0), unit),
    ):
        with pytest.raises(ValueError, match="posting blocks overlap"):
            decode(arg)
    pdf.loc[1, "first_doc_id"] = 9  # disjoint again: decodes cleanly
    assert decode_term_postings_raw(pdf)[0].tolist() == [1, 5, 9, 12]
    # block ranges only have to be disjoint WITHIN a term: "b"'s blocks
    # sit inside "a"'s range
    tdata = decode_unit_postings_raw(_unit_table({"a": pdf, "b": other}))
    assert tdata["a"][0].tolist() == [1, 5, 9, 12]
    assert tdata["b"][0].tolist() == [2, 3]


def test_dense_sparse_fallback_identical():
    """A degenerate-sparse range (rare terms spread over a huge doc space)
    must take the taat_topk fallback inside DenseScorer and still match."""
    rng = np.random.default_rng(11)
    ids_a = np.sort(rng.choice(10_000_000, size=20, replace=False)).astype(np.int64)
    ids_b = np.sort(rng.choice(10_000_000, size=25, replace=False)).astype(np.int64)
    ids_b[:5] = ids_a[:5]  # force overlap
    ids_b = np.sort(ids_b)
    postings = [
        (ids_a, rng.random(20), 2.0),
        (ids_b, rng.random(25), 1.5),
    ]
    d = DenseScorer()
    for mode in (spec.MODE_DISJUNCTIVE, spec.MODE_CONJUNCTIVE):
        assert d.topk(postings, 10, mode, 2) == taat_topk(postings, 10, mode, 2)
    # and the buffers were never grown to the sparse range
    assert len(d._acc) == 0


@settings(max_examples=300, deadline=None)
@given(corpus())
def test_batch_scorer_bit_identical(c):
    """BatchScorer (dense per-term vectors, production batch path) returns
    BIT-IDENTICAL (doc, score) results to taat_topk for both modes: the
    per-doc float add order is the same ascending-term order (missing
    terms contribute +0.0, exact).  Also pins the term-level stream decode
    (production decode path) to the generator's postings: raw columns
    exact, score parts bit-identical to the score expression applied to
    the undecoded arrays."""
    n_docs, postings, k, block_size, mode = c
    avgdl = 25.0
    idfs = {t: spec.idf(n_docs, len(p[0])) for t, p in postings.items()}
    tdata = {}
    for t, p in postings.items():
        pdf = _make_blocks_pdf(idfs[t], *p, avgdl=avgdl, block_size=block_size)
        ids, tfs, dls = (np.asarray(a, dtype=np.int64) for a in p)
        raw = decode_term_postings_raw(pdf)
        assert all(np.array_equal(g, w) for g, w in zip(raw, (ids, tfs, dls)))
        ids_s, parts_s = decode_term_postings_stream(pdf, avgdl)
        want = (tfs * (spec.K1 + 1.0)) / (
            tfs + spec.K1 * (1.0 - spec.B + spec.B * dls / avgdl)
        )
        assert np.array_equal(ids_s, ids)
        assert parts_s.tobytes() == want.tobytes()  # bit-exact floats
        tdata[t] = (ids_s, parts_s)
    terms = sorted(postings)
    decoded = [(*tdata[t], idfs[t]) for t in terms]
    bs = BatchScorer(tdata, idfs)
    d, s = bs.topk_set(terms, k, mode, n_terms=len(postings))
    # the tiny property corpora must have taken the dense path (vectors
    # are built lazily, so check after scoring)
    assert bs._vec and all(v is not None for v in bs._vec.values())
    want = taat_topk(decoded, k, mode, n_terms=len(postings))
    assert list(zip(d.tolist(), s.tolist())) == want


def test_batch_scorer_budget_fallback_identical():
    """Over-budget ranges must take the sparse fallback inside BatchScorer
    (no dense table materialized) and still match taat_topk."""
    rng = np.random.default_rng(7)
    ids_a = np.sort(rng.choice(10_000_000, size=30, replace=False)).astype(np.int64)
    ids_b = np.sort(rng.choice(10_000_000, size=25, replace=False)).astype(np.int64)
    ids_b[:5] = ids_a[:5]
    ids_b = np.sort(ids_b)
    tdata = {
        "a": (ids_a, rng.random(30) + 0.1),
        "b": (ids_b, rng.random(25) + 0.1),
    }
    idfs = {"a": 2.0, "b": 1.5}
    saved = BatchScorer.DENSE_BUDGET_BYTES
    BatchScorer.DENSE_BUDGET_BYTES = 1024
    try:
        bs = BatchScorer(tdata, idfs)
    finally:
        BatchScorer.DENSE_BUDGET_BYTES = saved
    decoded = [(*tdata["a"], 2.0), (*tdata["b"], 1.5)]
    for mode in (spec.MODE_DISJUNCTIVE, spec.MODE_CONJUNCTIVE):
        d, s = bs.topk_set(["a", "b"], 10, mode, 2)
        assert list(zip(d.tolist(), s.tolist())) == taat_topk(decoded, 10, mode, 2)
    # no dense vector was materialized (lazy attempts record None)
    assert all(v is None for v in bs._vec.values())


@settings(max_examples=200, deadline=None)
@given(corpus())
def test_topk_sets_bit_identical_to_topk_set(c):
    """topk_sets (the chunked matrix batch path) must return BIT-IDENTICAL
    (doc, score) slices, per set, to scalar topk_set calls — including
    adversarial kth-boundary ties (tiny dl/tf ranges above), sets with
    absent terms, conjunctive incompleteness, and chunk-boundary effects
    (chunk=2 forces multi-chunk runs)."""
    n_docs, postings, k, block_size, mode = c
    avgdl = 25.0
    idfs = {t: spec.idf(n_docs, len(p[0])) for t, p in postings.items()}
    tdata = {}
    for t, p in postings.items():
        pdf = _make_blocks_pdf(idfs[t], *p, avgdl=avgdl, block_size=block_size)
        tdata[t] = decode_term_postings_stream(pdf, avgdl)
    terms = sorted(postings)
    # every non-empty subset, plus sets containing an out-of-unit term
    # (absent from tdata — the planner can hand those to a unit)
    idfs["zz"] = 3.0
    sets: list[list[str]] = []
    for m in range(1, 1 << len(terms)):
        sets.append([t for j, t in enumerate(terms) if m & (1 << j)])
    sets.append([terms[0], "zz"])
    sets.append(["zz"])
    sets.extend(sets[:3])  # duplicates (distinct set_idx, same terms)

    got = BatchScorer(tdata, idfs).topk_sets(sets, k, mode, chunk=2)
    by_set: dict[int, list[tuple[int, float]]] = {}
    for si, d, s in zip(*[a.tolist() for a in got]):
        by_set.setdefault(si, []).append((d, s))

    scalar = BatchScorer(tdata, idfs)
    for i, ts in enumerate(sets):
        d, s = scalar.topk_set(ts, k, mode, len(ts))
        assert by_set.get(i, []) == list(zip(d.tolist(), s.tolist())), (
            f"set {i} {ts} mismatch"
        )


def test_topk_sets_budget_fallback_identical():
    """Sets touching an over-budget term must route through the sparse
    scalar fallback inside topk_sets and still match topk_set."""
    rng = np.random.default_rng(3)
    ids_a = np.sort(rng.choice(10_000_000, size=30, replace=False)).astype(np.int64)
    ids_b = np.sort(rng.choice(500, size=25, replace=False)).astype(np.int64)
    tdata = {
        "a": (ids_a, rng.random(30) + 0.1),  # huge range: over budget
        "b": (ids_b, rng.random(25) + 0.1),
    }
    idfs = {"a": 2.0, "b": 1.5}
    saved = BatchScorer.DENSE_BUDGET_BYTES
    BatchScorer.DENSE_BUDGET_BYTES = 1024
    try:
        sets = [["a"], ["b"], ["a", "b"]]
        for mode in (spec.MODE_DISJUNCTIVE, spec.MODE_CONJUNCTIVE):
            got = BatchScorer(tdata, idfs).topk_sets(sets, 10, mode)
            by_set = {}
            for si, d, s in zip(*[a.tolist() for a in got]):
                by_set.setdefault(si, []).append((d, s))
            scalar = BatchScorer(tdata, idfs)
            for i, ts in enumerate(sets):
                d, s = scalar.topk_set(ts, 10, mode, len(ts))
                assert by_set.get(i, []) == list(zip(d.tolist(), s.tolist()))
    finally:
        BatchScorer.DENSE_BUDGET_BYTES = saved
