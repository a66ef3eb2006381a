"""BM25 top-k: the vectorized batch scorer (production) + the exhaustive
scorer (oracle).

The production path runs per (segment, shard) unit inside mapInPandas
(operators/unitscan, plans/bm25.topk) and per query in the serving
searcher (plans/serve): the index is document-sharded (contiguous doc_id
ranges — see index_build), so each unit holds complete posting lists of
every term for its range and the unit-local top-k is globally mergeable.
Each queried term is decoded once per unit (decode_term_postings_stream)
and BatchScorer scores the whole set batch with dense per-term vectors
over the unit's bounded doc range.  Only k rows per (set, unit) leave
Python; the global merge is a window rank.  Posting payload bytes are read
by the task that scores them and never enter an exchange.

Rank-identity contract (north_rule): result doc_id sequence equals the
exhaustive oracle's under the tie-break (score DESC, doc_id ASC).  Scores
are exact (no pruning): per doc the float adds run in ascending-term order
with the same score-part expression on every path, and selection breaks
ties by comparison on doc_id.

The exhaustive oracle is an INDEPENDENT implementation (plain DataFrame ops
over the staged posting rows, no shared code path beyond spec constants) —
drift between them fails the equivalence tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import spec
from .codec import (
    block_value_starts,
    decode_doc_ids_stream,
    decode_varbyte_stream,
)

# the block columns the query-side decoders read (shard, where a reader
# needs it, is the hive partition parsed from the directory name)
POSTINGS_READ_COLS = [
    "term",
    "first_doc_id",
    "last_doc_id",
    "doc_ids_vb",
    "tfs_vb",
    "doc_lens_vb",
]


def _decode_blocks(
    firsts: np.ndarray, lasts: np.ndarray, new_term: np.ndarray,
    ids_vb, tfs_vb, dls_vb,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, tfs, doc_lens) of blocks sorted by (term, first_doc_id);
    new_term[i] marks block i as the first of its term.

    All blocks decode as ONE concatenated varbyte stream per column
    (codec.decode_*_stream) — one vectorized pass instead of ~8 numpy
    dispatches per 128-doc block.  This is the query side's only block
    decode, so its block-overlap check guards every plan: overlapping
    block doc ranges within a term would silently drop or duplicate
    docs."""
    if len(firsts) > 1 and not ((firsts[1:] > lasts[:-1]) | new_term[1:]).all():
        raise ValueError(
            "posting blocks overlap in doc_id; index was built with "
            "url_ordered=True on a non-url-sorted pages table"
        )
    ids = decode_doc_ids_stream(ids_vb)
    if not len(ids):
        z = np.empty(0, dtype=np.int64)
        return z, z, z
    tfs = decode_varbyte_stream(tfs_vb)
    dls = decode_varbyte_stream(dls_vb)
    return ids, tfs, dls


def score_parts(tfs: np.ndarray, dls: np.ndarray, avgdl: float) -> np.ndarray:
    """idf-free BM25 score parts: elementwise, so a part's bits do not
    depend on which postings it was computed with."""
    k1, b = spec.K1, spec.B
    return (tfs * (k1 + 1.0)) / (tfs + k1 * (1.0 - b + b * dls / avgdl))


def decode_term_postings_raw(
    block_pdf: pd.DataFrame,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, tfs, doc_lens) of one term's blocks, doc_ids ascending."""
    block_pdf = block_pdf.sort_values(["shard", "first_doc_id"])
    return _decode_blocks(
        block_pdf["first_doc_id"].to_numpy(),
        block_pdf["last_doc_id"].to_numpy(),
        np.zeros(len(block_pdf), dtype=bool),
        block_pdf["doc_ids_vb"],
        block_pdf["tfs_vb"],
        block_pdf["doc_lens_vb"],
    )


def decode_term_postings_stream(
    block_pdf: pd.DataFrame, avgdl: float
) -> tuple[np.ndarray, np.ndarray]:
    """(doc_ids, idf-free BM25 score parts) of one term's blocks: the raw
    decode plus score_parts.  The serving searcher decodes through here;
    the Spark unit scan through decode_unit_postings_stream, whose
    per-term arrays are bit-identical."""
    ids, tfs, dls = decode_term_postings_raw(block_pdf)
    return ids, score_parts(tfs, dls, avgdl)


def _decode_unit(tbl) -> tuple[list[str], np.ndarray, tuple]:
    """(terms ascending, per-term value bounds, (doc_ids, tfs, doc_lens))
    of one unit's block table (POSTINGS_READ_COLS, any row order): one
    sort by (term, first_doc_id), then one stream decode per column
    straight from the Arrow values buffers."""
    import pyarrow.compute as pc

    n = tbl.num_rows
    if n == 0:
        z = np.empty(0, dtype=np.int64)
        return [], np.zeros(1, dtype=np.int64), (z, z, z)
    tbl = tbl.sort_by(
        [("term", "ascending"), ("first_doc_id", "ascending")]
    ).combine_chunks()
    term_col = tbl.column("term").chunk(0)
    new_term = np.ones(n, dtype=bool)
    new_term[1:] = pc.not_equal(
        term_col.slice(1), term_col.slice(0, n - 1)
    ).to_numpy(zero_copy_only=False)
    starts = np.flatnonzero(new_term)
    col = {c: tbl.column(c).chunk(0) for c in POSTINGS_READ_COLS[1:]}
    cols = _decode_blocks(
        col["first_doc_id"].to_numpy(),
        col["last_doc_id"].to_numpy(),
        new_term,
        col["doc_ids_vb"],
        col["tfs_vb"],
        col["doc_lens_vb"],
    )
    vb = block_value_starts(col["doc_ids_vb"])[np.append(starts, n)]
    return term_col.take(starts).to_pylist(), vb, cols


def decode_unit_postings_raw(tbl) -> dict[str, tuple]:
    """term -> (doc_ids, tfs, doc_lens) for every term of one unit's block
    table, in ascending term order; the arrays are views into one
    unit-wide decode, equal to decode_term_postings_raw per term."""
    terms, vb, cols = _decode_unit(tbl)
    return {
        t: tuple(a[vb[i] : vb[i + 1]] for a in cols) for i, t in enumerate(terms)
    }


def decode_unit_postings_stream(tbl, avgdl: float) -> dict[str, tuple]:
    """term -> (doc_ids, score parts) for every term of one unit's block
    table, in ascending term order: score parts are computed once for the
    whole unit and are bit-identical to decode_term_postings_stream."""
    terms, vb, (ids, tfs, dls) = _decode_unit(tbl)
    parts = score_parts(tfs, dls, avgdl)
    return {
        t: (ids[vb[i] : vb[i + 1]], parts[vb[i] : vb[i + 1]])
        for i, t in enumerate(terms)
    }


def _taat_select(u: np.ndarray, acc: np.ndarray, k: int) -> list[tuple[int, float]]:
    """Exact top-k of (doc u, score acc) under (score DESC, doc_id ASC):
    threshold by the kth-largest score, keep ties, lexsort the survivors."""
    n = len(u)
    if n == 0:
        return []
    if n > k:
        kth = np.partition(acc, n - k)[n - k]
        mask = acc >= kth
        u, acc = u[mask], acc[mask]
    order = np.lexsort((u, -acc))[:k]
    return list(zip(u[order].tolist(), acc[order].tolist()))


def taat_topk(
    postings: list[tuple[np.ndarray, np.ndarray, float]],
    k: int,
    mode: str,
    n_terms: int,
) -> list[tuple[int, float]]:
    """Vectorized term-at-a-time BM25 top-k over fully-decoded postings.

    postings: [(doc_ids asc, score_parts, idf)] — one entry per query term
    PRESENT in this shard, in sorted-term order.  Returns [(doc_id, score)]
    sorted by (score DESC, doc_id ASC), exact scores (no pruning — the
    per-shard doc range is bounded by the doc-range sharding, so the full
    scan is O(sum df_shard) in vectorized numpy).  DenseScorer's fallback
    for degenerate-sparse doc ranges."""
    if not postings:
        return []
    if mode == spec.MODE_CONJUNCTIVE:
        if len(postings) < n_terms:
            return []
        ids0, parts0, idf0 = postings[0]
        base_ids = ids0
        base_sc = idf0 * parts0
        for ids, parts, idf in postings[1:]:
            if len(base_ids) == 0:
                return []
            pos = np.searchsorted(ids, base_ids)
            pos_c = np.minimum(pos, max(len(ids) - 1, 0))
            m = (
                (ids[pos_c] == base_ids)
                if len(ids)
                else np.zeros(len(base_ids), dtype=bool)
            )
            base_ids = base_ids[m]
            base_sc = base_sc[m] + idf * parts[pos_c[m]]
        return _taat_select(base_ids, base_sc, k)
    all_ids = np.concatenate([p[0] for p in postings])
    all_sc = np.concatenate([p[2] * p[1] for p in postings])
    u, inv = np.unique(all_ids, return_inverse=True)
    acc = np.bincount(inv, weights=all_sc)
    return _taat_select(u, acc, k)


class DenseScorer:
    """Reusable dense-accumulator TAAT scorer for a bounded doc-id range.

    taat_topk allocates ~6 small arrays per call (concatenate, unique,
    bincount); at batch scale those allocations and the O(n log n) unique
    sort are the dominant cost AND the multi-worker contention source
    (measured: 8 concurrent processes pay ~1.4x per call on the sparse
    path, ~1.15x dense).  A shard unit is a CONTIGUOUS bounded doc range by
    construction (index_build doc-range sharding), so scoring can instead
    scatter-add into one cache-resident accumulator reused across every
    query of the batch:

        acc[doc - base] += idf * parts      (per term, term order)

    Bit-identity with taat_topk: per doc the float adds happen in the same
    ascending-term order as bincount's array-order accumulation (verified
    exhaustively in tests/test_wand_property.py), and the selection is the
    shared _taat_select.  Conjunctive mode keeps a per-doc term count and
    masks docs present in all terms — same add order as the searchsorted
    merge.

    Falls back to taat_topk (same results) when the postings span a range
    too large for a dense buffer — e.g. a whole-corpus searcher at large N
    — or when the range is degenerate-sparse (range >> postings).
    """

    MAX_RANGE = 1 << 26  # 64 M slots = 512 MB float64 ceiling

    def __init__(self):
        self._acc = np.empty(0, dtype=np.float64)
        self._cnt = np.empty(0, dtype=np.int32)
        self._touch = np.empty(0, dtype=bool)

    def _buffers(self, n: int):
        if len(self._acc) < n:
            self._acc = np.zeros(n, dtype=np.float64)
            self._cnt = np.zeros(n, dtype=np.int32)
            self._touch = np.zeros(n, dtype=bool)
        return self._acc, self._cnt, self._touch

    def topk(
        self,
        postings: list[tuple[np.ndarray, np.ndarray, float]],
        k: int,
        mode: str,
        n_terms: int,
    ) -> list[tuple[int, float]]:
        postings = [p for p in postings if len(p[0])]
        if not postings:
            return []
        conj = mode == spec.MODE_CONJUNCTIVE
        if conj and len(postings) < n_terms:
            return []
        base = min(int(p[0][0]) for p in postings)
        hi = max(int(p[0][-1]) for p in postings)
        rng = hi - base + 1
        total = sum(len(p[0]) for p in postings)
        if rng > self.MAX_RANGE or rng > 64 * total + 4096:
            return taat_topk(postings, k, mode, n_terms)
        acc, cnt, touch = self._buffers(rng)
        for ids, parts, idf in postings:
            off = ids - base
            acc[off] += idf * parts
            if conj:
                cnt[off] += 1
            touch[off] = True
        full = np.nonzero(touch)[0]
        u = full[cnt[full] == len(postings)] if conj else full
        sc = acc[u].copy()
        hits = _taat_select(u + base, sc, k)
        # O(union) reset keeps the buffers zeroed for the next call
        acc[full] = 0.0
        touch[full] = False
        if conj:
            cnt[full] = 0
        return hits


class BatchScorer:
    """Scores MANY term sets against ONE decoded shard unit.

    The batch query path decodes each queried term once per unit; with a
    distinct-set workload the remaining cost is per-set scoring.  The
    per-set scatter path (DenseScorer) pays ~180 us/set dominated by the
    scatter-add and the union bookkeeping.  When the same terms recur
    across many sets (head-heavy real logs), that work can be hoisted:
    precompute ONE dense score vector per query term over the unit's
    bounded doc range

        vec_t[doc - base] = idf_t * parts_t        (scattered once)

    and score a set as the elementwise sum of its term vectors in
    ascending-term order — per doc that is the SAME float add sequence as
    taat_topk / DenseScorer (docs missing a term add +0.0, exact), so
    results are bit-identical (property-tested).  Top-k selection then
    runs directly on the full range vector: BM25 contributions are
    strictly positive (spec.idf > 0), so the kth-largest overall equals
    the kth-largest positive whenever >= k docs match, and zero entries
    can never reach the result set.  Measured ~4x per-set over the
    scatter path on the bench workload.

    Memory-gated: each dense vector costs rng x 8 bytes, built LAZILY on
    a term's first use and charged against DENSE_BUDGET_BYTES.  Once the
    budget is spent (huge shard ranges at full scale, or very wide term
    unions), further terms stay sparse and any set containing one takes
    the per-set DenseScorer path — same results, status-quo cost.  Lazy
    build also lets a long-lived serving process (plans.serve) keep one
    BatchScorer over its GROWING term cache: pass doc_range explicitly
    (the searcher's corpus/shard doc-id range) since tdata fills over
    time.

    Conjunctive sets additionally need per-term presence; boolean
    presence vectors are derived lazily (vec > 0) and cached per term,
    so purely-disjunctive batches never pay for them.
    """

    DENSE_BUDGET_BYTES = 1 << 29  # 512 MB of per-term dense vectors
    _EMPTY = np.empty(0, dtype=np.float64)  # sentinel: term empty here

    def __init__(
        self,
        tdata: dict[str, tuple[np.ndarray, np.ndarray]],
        idf: dict[str, float],
        doc_range: tuple[int, int] | None = None,
    ):
        self._fallback = DenseScorer()
        self._tdata = tdata
        self._idf = idf
        self._vec: dict[str, np.ndarray | None] = {}
        self._pres: dict[str, np.ndarray] = {}
        self._budget = self.DENSE_BUDGET_BYTES
        if doc_range is not None:
            self._base, self._rng = doc_range
            return
        nz = [p for p in tdata.values() if len(p[0])]
        if not nz:
            self._base, self._rng = 0, 0
            return
        self._base = min(int(p[0][0]) for p in nz)
        self._rng = max(int(p[0][-1]) for p in nz) - self._base + 1

    def _dense_vec(self, t: str) -> np.ndarray | None:
        """Dense score vector for a term: cached, built on first use.
        Returns the _EMPTY sentinel for a term with no postings here and
        None when the budget is spent (caller falls back sparse)."""
        v = self._vec.get(t)
        if v is not None or t in self._vec:
            return v
        ids, parts = self._tdata[t]
        if not len(ids):
            v = self._EMPTY
        elif self._rng <= 0 or self._rng * 8 > self._budget:
            v = None
        else:
            self._budget -= self._rng * 8
            v = np.zeros(self._rng, dtype=np.float64)
            v[ids - self._base] = self._idf[t] * parts
        self._vec[t] = v
        return v

    def _mask_offsets(self, mask) -> np.ndarray | None:
        """In-range offsets (doc_id - base) of an excluded-doc-id array
        (minus-term queries); None when nothing falls in this unit's
        range — the no-exclusion paths then run byte-identically."""
        if mask is None or not len(mask) or self._rng <= 0:
            return None
        off = np.asarray(mask, dtype=np.int64) - self._base
        off = off[(off >= 0) & (off < self._rng)]
        return off if len(off) else None

    def _sparse_set(
        self,
        terms: list[str],
        k: int,
        mode: str,
        n_terms: int,
        mask=None,
    ) -> tuple[np.ndarray, np.ndarray]:
        empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
        postings = [
            (*self._tdata[t], self._idf[t]) for t in terms if t in self._tdata
        ]
        off = self._mask_offsets(mask)
        # exclusion can remove at most len(off) of the top hits, so
        # requesting k + len(off) then filtering is exact
        hits = self._fallback.topk(
            postings, k + (len(off) if off is not None else 0), mode, n_terms
        )
        if not hits:
            return empty
        d, s = zip(*hits)
        d = np.array(d, dtype=np.int64)
        s = np.array(s, dtype=np.float64)
        if off is not None:
            mb = np.zeros(self._rng, dtype=bool)
            mb[off] = True
            keep = ~mb[d - self._base]
            d, s = d[keep][:k], s[keep][:k]
        return d, s

    def topk_set(
        self, terms: list[str], k: int, mode: str, n_terms: int, mask=None
    ) -> tuple[np.ndarray, np.ndarray]:
        """Top-k (doc_ids, scores) for one term set, (score DESC, doc ASC).

        terms: the set's tokens present in the CORPUS lexicon (the caller's
        n_terms conjunctive contract); tokens absent from this unit's
        postings are skipped here (disjunctive) / empty the result
        (conjunctive), exactly as the sparse paths do.

        mask: optional array of EXCLUDED doc_ids (minus-term queries) —
        those docs are removed before top-k selection, so the kth result
        is exact, not a post-filtered gap.
        """
        empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
        vecs = []
        present: list[str] = []
        for t in terms:
            if t not in self._tdata:
                continue
            v = self._dense_vec(t)
            if v is None:  # over budget: whole set via the sparse path
                return self._sparse_set(terms, k, mode, n_terms, mask)
            if v is not self._EMPTY:
                vecs.append(v)
                present.append(t)
        if not vecs:
            return empty
        conj = mode == spec.MODE_CONJUNCTIVE
        if conj and len(vecs) < n_terms:
            return empty
        off = self._mask_offsets(mask)
        v = vecs[0] if len(vecs) == 1 else np.add(vecs[0], vecs[1])
        for w in vecs[2:]:
            v = v + w
        if conj and len(vecs) > 1:
            m = self._presence(present[0])
            for t in present[1:]:
                m = m & self._presence(t)  # fresh array: safe to mutate
            if off is not None:
                m[off] = False
            u = np.nonzero(m)[0]
            return self._order(u, v[u], k)
        if off is not None:
            if v is vecs[0]:  # single-term: v aliases the cached row
                v = v.copy()
            v[off] = 0.0
        n = self._rng
        kth = np.partition(v, n - k)[n - k] if n > k else 0.0
        u = np.nonzero(v >= kth)[0] if kth > 0.0 else np.nonzero(v > 0.0)[0]
        return self._order(u, v[u], k)

    def _presence(self, t: str) -> np.ndarray:
        p = self._pres.get(t)
        if p is None:
            p = self._pres[t] = self._vec[t] > 0.0
        return p

    def _order(
        self, u: np.ndarray, sc: np.ndarray, k: int
    ) -> tuple[np.ndarray, np.ndarray]:
        # same (score DESC, doc ASC) selection as _taat_select; u is an
        # offset array (ascending), so lexsorting offsets == doc ids
        n = len(u)
        if n > k:
            kth = np.partition(sc, n - k)[n - k]
            m = sc >= kth
            u, sc = u[m], sc[m]
        order = np.lexsort((u, -sc))[:k]
        return u[order] + self._base, sc[order]

    # per-chunk score-matrix budget for topk_sets: bounds the (rows x rng)
    # float64 temporaries, so huge shard ranges simply shrink the chunk
    CHUNK_BUDGET_BYTES = 64 << 20
    _TILE = 64  # tile width for the tile-max selection bound
    _TINY = np.nextafter(0.0, 1.0)  # smallest positive: 'score > 0' as >=
    _TINY32 = np.nextafter(np.float32(0.0), np.float32(1.0))
    # per-term relative threshold relaxation for f32 candidate selection:
    # ~160x the worst-case f32 sum rounding (2^-24 per term), still tiny
    _F32_MARGIN = 1e-5

    def topk_sets(
        self,
        sets: list[list[str]],
        k: int,
        mode: str,
        chunk: int = 64,
        masks: list | None = None,
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Vectorized scoring of MANY term sets against this unit.

        Returns (set_idx int32, doc_ids int64, scores float64) concatenated
        over sets, each set's slice ordered (score DESC, doc ASC) —
        BIT-IDENTICAL to calling topk_set(sets[i], k, mode, len(sets[i]))
        per set (property-tested).  The batch query plan's per-set cost was
        dominated by per-numpy-call overhead (~8 small calls per set on a
        few-thousand-slot shard range); here sets are grouped by present-
        term count and scored as CHUNKS of matrix rows:

            S = V[i0] + V[i1] + ...    (same ascending-term add order)

        Top-k selection is TILE-MAX bounded instead of a per-row
        argpartition: the kth-largest of a row's tile maxima is itself an
        actual row element, hence a true lower bound theta on the row's
        kth-largest score, and candidates {S >= theta} are typically only
        ~k per row (measured p50 11, max 14 for k=10 on the bench corpus).
        One flat lexsort orders all candidates (row, score DESC, doc ASC)
        and the first k per row are exactly the scalar result — boundary
        ties INCLUDED, since the scalar rule is the same ordering truncated
        at k.  The whole union-term matrix is built directly (one
        allocation, scatter per term); when it exceeds the dense budget the
        entire batch falls back to per-set topk_set (which is itself
        budget-gated and routes sparse).  n_terms == len(set): the planner
        already dropped conjunctive queries with out-of-corpus tokens.

        masks: optional per-set EXCLUDED doc_id arrays (minus-term
        queries), parallel to `sets` (None entries = no exclusion).  A
        masked doc's f32 score row entry is zeroed BEFORE selection; BM25
        scores are strictly positive, so a masked doc can never become a
        candidate and the kth survivor is exact.  masks=None (and masks
        that touch nothing in this unit's range) leave every path
        byte-identical to the unmasked call.
        """
        out_idx: list[np.ndarray] = []
        out_doc: list[np.ndarray] = []
        out_sc: list[np.ndarray] = []
        conj = mode == spec.MODE_CONJUNCTIVE
        k_i = int(k)
        moffs: dict[int, np.ndarray] = {}
        if masks is not None:
            for mi, mk in enumerate(masks):
                o = self._mask_offsets(mk)
                if o is not None:
                    moffs[mi] = o
            if not moffs:
                masks = None

        def _scalar(i: int, terms: list[str]) -> None:
            d, s = self.topk_set(
                terms, k_i, mode, len(terms),
                masks[i] if masks is not None else None,
            )
            if len(d):
                out_idx.append(np.full(len(d), i, dtype=np.int32))
                out_doc.append(d)
                out_sc.append(s)

        def _cat() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
            if not out_doc:
                return (
                    np.empty(0, dtype=np.int32),
                    np.empty(0, dtype=np.int64),
                    np.empty(0, dtype=np.float64),
                )
            return (
                np.concatenate(out_idx),
                np.concatenate(out_doc),
                np.concatenate(out_sc),
            )

        rng_n = self._rng
        if rng_n <= k_i:  # degenerate unit: every match selected anyway
            for i, terms in enumerate(sets):
                _scalar(i, terms)
            return _cat()

        # union of present terms (first-use order; content order-invariant)
        union: list[str] = []
        seen: set[str] = set()
        for terms in sets:
            for t in terms:
                if t not in seen:
                    seen.add(t)
                    if t in self._tdata:
                        union.append(t)
        nonempty = [t for t in union if len(self._tdata[t][0])]
        need = len(nonempty)
        if need == 0:
            return _cat()
        if need * rng_n * 8 > self._budget:
            # matrix over budget: whole batch via the scalar path (which
            # charges the same budget lazily and routes sparse when spent)
            for i, terms in enumerate(sets):
                _scalar(i, terms)
            return _cat()

        # build the union-term score matrix in ONE allocation; rows are
        # shared with topk_set via views (same values as _dense_vec builds)
        self._budget -= need * rng_n * 8
        V = np.zeros((need, rng_n), dtype=np.float64)
        rows: dict[str, int] = {}
        r = 0
        for t in union:
            ids, parts = self._tdata[t]
            if not len(ids):
                rows[t] = -1
                self._vec.setdefault(t, self._EMPTY)
                continue
            prior = self._vec.get(t)
            if prior is not None and len(prior):
                V[r] = prior
            else:
                V[r][ids - self._base] = self._idf[t] * parts
            self._vec[t] = V[r]
            rows[t] = r
            r += 1

        # group sets by present-term count (matrix row count per set)
        groups: dict[int, tuple[list[int], list[list[int]]]] = {}
        for i, terms in enumerate(sets):
            ridx = [rows[t] for t in terms if rows.get(t, -1) >= 0]
            if not ridx or (conj and len(ridx) < len(terms)):
                continue
            g = groups.setdefault(len(ridx), ([], []))
            g[0].append(i)
            g[1].append(ridx)
        if not groups:
            return _cat()

        # SELECTION runs in float32 (half the memory traffic of the add
        # passes); exact float64 scores are computed only for the ~k
        # candidates per row, so results stay bit-identical.  The f32
        # threshold is relaxed by _F32_MARGIN, far beyond the worst-case
        # relative rounding of an n-term f32 sum (n * 2^-24), so the f32
        # candidate set provably contains every true top-k doc.
        V32 = V.astype(np.float32)
        # default chunk 64 keeps the (chunk x rng) f32 score buffer inside
        # L2 at the ~4.5k-doc shard knee (64 x 4688 x 4B = 1.2 MB): measured
        # 25.1 -> 22.4 us/set single-stream and flat under 8-way concurrency
        chunk = max(1, min(chunk, self.CHUNK_BUDGET_BYTES // (rng_n * 8)))
        tile = self._TILE
        nt_full = (rng_n // tile) * tile
        tail_w = rng_n - nt_full
        tcols = np.arange(tile)
        tstarts = np.arange(0, rng_n, tile)
        # reused per-chunk buffers: a fresh (chunk x rng) float32 temporary
        # per chunk is malloc'd via mmap and pays a page fault per 4 KiB on
        # first touch — reusing one buffer keeps the gather+add passes at
        # memcpy speed (measured 34 -> 26 us/set on the bench shard size)
        s_buf = np.empty((chunk, rng_n), dtype=np.float32)
        a_buf = np.empty((chunk, rng_n), dtype=np.float32)

        for n, (sidx_l, ridx_l) in sorted(groups.items()):
            sidx_g = np.asarray(sidx_l, dtype=np.int32)
            idx_g = np.asarray(ridx_l, dtype=np.int64)
            margin = np.float32(1.0 - self._F32_MARGIN * max(2, n))
            for c0 in range(0, len(sidx_g), chunk):
                ci = idx_g[c0 : c0 + chunk]
                cs = sidx_g[c0 : c0 + chunk]
                m2 = len(ci)
                # same elementwise add sequence as the scalar path
                # (((V[i0]+V[i1])+V[i2])+...), gathered into the reused
                # buffers (mode='clip' skips np.take's internal temp; row
                # indices are in-range by construction)
                S = np.take(V32, ci[:, 0], axis=0, out=s_buf[:m2], mode="clip")
                for j in range(1, n):
                    A = np.take(
                        V32, ci[:, j], axis=0, out=a_buf[:m2], mode="clip"
                    )
                    np.add(S, A, out=S)
                if conj and n > 1:
                    # presence == strictly-positive f32 score: every
                    # matching doc's f64 score is >> f32-underflow, so
                    # the f32 sum of n positive contributions stays > 0
                    M = (
                        np.take(
                            V32, ci[:, 0], axis=0, out=a_buf[:m2], mode="clip"
                        )
                        > 0.0
                    )
                    for j in range(1, n):
                        A = np.take(
                            V32, ci[:, j], axis=0, out=a_buf[:m2], mode="clip"
                        )
                        M &= A > 0.0
                    np.logical_not(M, out=M)
                    S[M] = np.float32(0.0)
                if masks is not None:
                    for ii in range(m2):
                        off = moffs.get(int(cs[ii]))
                        if off is not None:
                            S[ii, off] = np.float32(0.0)
                # theta: per-row kth-largest TILE max of the f32 scores (a
                # real f32 element, hence ~the kth f32 score or below); with
                # <= k tiles fall back to 'all positives' (theta = tiny)
                if nt_full:
                    # segment maxes in one C pass; the final (short) segment
                    # IS the tail tile, so no separate concat
                    T = np.maximum.reduceat(S, tstarts, axis=1)
                else:
                    T = S
                ntl = T.shape[1]
                if ntl > k_i:
                    theta = np.partition(T, ntl - k_i, axis=1)[:, ntl - k_i]
                    theta = np.maximum(theta * margin, self._TINY32)
                else:
                    theta = np.full(m2, self._TINY32, dtype=np.float32)
                if nt_full:
                    # candidate TILES, then candidate elements within them —
                    # touches ~k tiles/row instead of re-scanning the row
                    trr, tcc = np.nonzero(T >= theta[:, None])
                    wcol = tcc[:, None] * tile + tcols[None, :]
                    if tail_w:
                        np.clip(wcol, 0, rng_n - 1, out=wcol)
                    # flat gather: one index array into the contiguous S
                    # view beats the generic 2D fancy-index machinery
                    C = np.take(S.ravel(), trr[:, None] * rng_n + wcol)
                    sub = C >= theta[trr, None]
                    if tail_w:  # mask the clipped duplicates of the tail
                        sub &= (tcc[:, None] * tile + tcols[None, :]) < rng_n
                    srr, scc = np.nonzero(sub)
                    rr = trr[srr]
                    cc = wcol[srr, scc]
                else:  # range below one tile: T IS S, columns are "tiles"
                    rr, cc = np.nonzero(S >= theta[:, None])
                # EXACT f64 scores for the candidates only, added in the
                # same ascending-term order as the scalar path
                vals = V[ci[rr, 0], cc]
                for j in range(1, n):
                    vals = vals + V[ci[rr, j], cc]
                # one flat lexsort: rows contiguous, within a row score DESC
                # then doc ASC — the scalar rule — so the first k of each
                # row ARE the scalar top-k, boundary ties included
                order = np.lexsort((cc, -vals, rr))
                rr, cc, vals = rr[order], cc[order], vals[order]
                # f32 relaxation may admit sub-kth or even zero-score
                # candidates: drop exact zeros, then take first k per row
                keep = vals > 0.0
                rr, cc, vals = rr[keep], cc[keep], vals[keep]
                counts = np.bincount(rr, minlength=m2)
                starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
                pos = np.arange(len(rr)) - np.repeat(starts, counts)
                kp = pos < k_i
                rr, cc, vals = rr[kp], cc[kp], vals[kp]
                if not len(rr):
                    continue
                out_idx.append(cs[rr])
                out_doc.append(cc + self._base)
                out_sc.append(vals)
        return _cat()


# --- exhaustive oracle (independent implementation, plain DataFrame ops) -------


def exhaustive_topk(
    posting_rows: DataFrame,
    qmeta: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = spec.TOP_K_DEFAULT,
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """Oracle: score every matching doc, no pruning, no compression.

    posting_rows: (term, doc_id, tf, doc_len); qmeta: (query_id, term,
    n_terms, mode) one row per distinct query token.  Output: (query_id,
    rank, doc_id, score) with the canonical tie-break.

    exclude_ids: optional (doc_id) relation removed AFTER scoring and
    BEFORE ranking — tombstoned docs (operators/deletes.py).  df/idf stay
    full-corpus on purpose: deleted docs keep counting in the statistics
    until compaction purges them (Lucene semantics), so this anti-join
    must not run before the df aggregation above it.
    """
    lex = posting_rows.groupBy("term").agg(F.count("*").alias("df"))
    q = (
        qmeta.join(lex, "term", "left")
        .withColumn(
            "idf",
            F.log(
                (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            ),
        )
    )
    scored = (
        posting_rows.join(F.broadcast(q), "term")
        .withColumn(
            "part",
            (F.col("tf") * (spec.K1 + 1.0))
            / (
                F.col("tf")
                + spec.K1 * (1.0 - spec.B + spec.B * F.col("doc_len") / F.lit(avgdl))
            ),
        )
        .withColumn("tscore", F.col("idf") * F.col("part"))
        .groupBy("query_id", "mode", "n_terms", "doc_id")
        .agg(F.sum("tscore").alias("score"), F.count("*").alias("n_matched"))
        .filter(
            (F.col("mode") == spec.MODE_DISJUNCTIVE)
            | (F.col("n_matched") == F.col("n_terms"))
        )
    )
    if exclude_ids is not None:
        scored = scored.join(exclude_ids, "doc_id", "left_anti")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
