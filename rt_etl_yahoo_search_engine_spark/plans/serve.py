"""Low-latency serving path: BM25 top-k without a Spark job per query.

The distributed path (plans.bm25.topk) is the THROUGHPUT path — one Spark
job amortizes scan, broadcast, and shuffle across a whole query batch.  Its
fixed per-job cost (~1-2 s of stage scheduling) is irrelevant at batch
scale but dominates single-query latency, and the north metric asks for
query p50/p99 as well as QPS.

On a real cluster, interactive serving is not a batch job either: each
searcher process owns one doc-range shard of the index (exactly the layout
the build's ``shard = doc_id * S // N`` sharding produces) and answers
queries from local storage in milliseconds; a front-end fans each query to
S searchers and merges S×k candidate rows.  This module is that
searcher-node role, runnable against any index the build wrote:

  * the lexicon row for each query term is read with parquet
    predicate pushdown (``term isin``) — touches a few row groups, not the
    table;
  * postings are document-partitioned (``shard=S`` dirs, term-sorted
    files): the term-isin filter prunes to a handful of row groups per
    shard via parquet min/max stats — the same pruning Catalyst does, done
    here through pyarrow.dataset against identical files.  On a real
    cluster each searcher process owns one shard dir and this read touches
    ONLY local files;
  * scoring runs the SAME vectorized batch scorer the distributed path
    uses (operators.topk.decode_term_postings_stream / BatchScorer — one
    dense score vector per head term over the searcher's bounded doc
    range, built on first use and kept for the process lifetime; sparse
    fallback for rare/over-budget terms, all bit-identical), on top of a
    per-term decoded-postings hot cache (head terms decode once per
    searcher lifetime), so results are rank-identical by construction —
    asserted by tests/test_serve.py.  Scores are exact (no pruning;
    SCALE.md records the measurement behind that choice).

One process here holds every shard, so the S-way merge is local; the float
sum order per doc (ascending term order) matches the distributed path's
accumulation order (its unit decode yields terms ascending), keeping
scores bit-identical.

The reference answers a query in "order of seconds" end-to-end
(ref: README.md:18-19); this path answers rank-identical BM25 top-10 over
the same corpus in single-digit milliseconds per query.
"""

from __future__ import annotations

import os
from bisect import bisect_left

import numpy as np
import pandas as pd

from .. import spec
from ..operators.topk import (
    POSTINGS_READ_COLS,
    BatchScorer,
    decode_term_postings_raw,
    decode_term_postings_stream,
)
from ..sources.catalog import Catalog
from .simalt import term_weights


def _stat_str(v) -> str:
    return v if isinstance(v, str) else v.decode()


class _SegmentReader:
    """Pruned reader over one posting segment's shard=S directories.

    At init it caches one ParquetFile handle per data file plus the term
    min/max of every row group (footer stats only — the in-memory index a
    real searcher node keeps).  Per query it touches ONLY the row groups
    whose term range intersects the query terms, via read_row_groups on the
    cached handles — no per-call dataset/scanner construction, which costs
    tens of ms across many fragments."""

    def __init__(self, seg_dir: str):
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        self.files: list[tuple[object, int, list[tuple[str, str]]]] = []
        for d in sorted(os.listdir(seg_dir)):
            if not d.startswith("shard="):
                continue
            shard = int(d.split("=", 1)[1])
            sdir = os.path.join(seg_dir, d)
            for fname in sorted(os.listdir(sdir)):
                if not fname.endswith(".parquet"):
                    continue
                pf = pq.ParquetFile(os.path.join(sdir, fname))
                t_idx = pf.schema_arrow.names.index("term")
                rgs = []
                for i in range(pf.metadata.num_row_groups):
                    st = pf.metadata.row_group(i).column(t_idx).statistics
                    if st is not None and st.has_min_max:
                        rgs.append((_stat_str(st.min), _stat_str(st.max)))
                    else:  # no stats: never prune this row group
                        rgs.append(("", "\U0010ffff"))
                self.files.append((pf, shard, rgs))
        self._pool = ThreadPoolExecutor(max_workers=min(16, max(1, len(self.files))))
        self._loaded: list[tuple[pd.DataFrame, "object"]] | None = None

    def preload(self) -> None:
        """Load every data file into memory (term-sorted frames + a numpy
        term key per file).  This is what a real searcher node does for ITS
        shard at startup; queries then slice by binary search instead of
        touching parquet.  Only sane when this process's shard set fits in
        RAM — per-shard searcher processes at 10^12 scale, or any sandbox
        index."""

        def _load(ent):
            pf, shard, _ = ent
            pdf = pf.read(columns=POSTINGS_READ_COLS).to_pandas()
            pdf["shard"] = shard
            return pdf, pdf["term"].to_numpy()  # files are term-sorted

        self._loaded = list(self._pool.map(_load, self.files))

    def blocks_for_loaded(self, terms_sorted: list[str]) -> list[pd.DataFrame]:
        import numpy as np

        parts = []
        for pdf, keys in self._loaded:
            lo = np.searchsorted(keys, terms_sorted, side="left")
            hi = np.searchsorted(keys, terms_sorted, side="right")
            take = [i for a, b in zip(lo, hi) if a < b for i in range(a, b)]
            if take:
                parts.append(pdf.iloc[take])
        return parts

    def _read_one(self, ent, terms_sorted: list[str]):
        import pyarrow.compute as pc

        pf, shard, rgs = ent
        idxs = [
            i
            for i, (lo, hi) in enumerate(rgs)
            # some query term falls inside [lo, hi]?
            if (j := bisect_left(terms_sorted, lo)) < len(terms_sorted)
            and terms_sorted[j] <= hi
        ]
        if not idxs:
            return None
        tbl = pf.read_row_groups(idxs, columns=POSTINGS_READ_COLS)
        tbl = tbl.filter(pc.field("term").isin(terms_sorted))
        if not tbl.num_rows:
            return None
        pdf = tbl.to_pandas()
        pdf["shard"] = shard
        return pdf

    def blocks_for(self, terms_sorted: list[str]) -> list[pd.DataFrame]:
        # the per-file reads are the per-shard fan-out a real front end does
        # across searcher nodes; here threads stand in (parquet decode
        # releases the GIL)
        if self._loaded is not None:
            return self.blocks_for_loaded(terms_sorted)
        if len(self.files) <= 1:
            out = [self._read_one(e, terms_sorted) for e in self.files]
        else:
            out = list(
                self._pool.map(lambda e: self._read_one(e, terms_sorted), self.files)
            )
        return [p for p in out if p is not None]


class LocalSearcher:
    """Serving-path searcher over one on-disk index (no SparkSession).

    Thread-compatible for read-only use; per-term lexicon lookups are cached
    for the lifetime of the searcher (the lexicon is immutable once built).
    """

    def __init__(self, index_root: str, preload: bool = False):
        import pyarrow.dataset as ds

        self._ds = ds
        self.root = index_root
        self._preload = preload
        cat = Catalog(index_root)
        reg = cat.read_registry()
        self._version = int(reg.get("version", 0))
        self.avgdl = float(reg["avgdl"])
        self.n_docs = int(reg["n_docs"])
        self._lex_ds = ds.dataset(cat.path(reg["lexicon_dir"]))
        self._docmap_ds = [
            ds.dataset(cat.path(d)) for d in reg.get("docmap_dirs", ["docmap"])
        ]
        # one pruned reader per posting segment
        self._segments = [
            _SegmentReader(cat.path(seg["dir"])) for seg in reg["segments"]
        ]
        # tombstoned docs (operators/deletes.py): the searcher's live-docs
        # set, loaded once per process — the RAM analog of Lucene's
        # live-docs bitmap.  A per-shard searcher at scale loads only its
        # own doc range (read_deleted_ids prunes by doc_id); one process
        # holds every shard here.
        from ..operators.deletes import deleted_dir_paths, read_deleted_ids

        d = read_deleted_ids(deleted_dir_paths(cat, reg))
        self._deleted = d if len(d) else None
        if preload:
            # searcher-node startup: pull this process's shards into memory
            # (per-shard searcher processes at scale; whole index here)
            for seg in self._segments:
                seg.preload()
        self._term_cache: dict[str, float | None] = {}
        # hot-postings cache: term -> fully-decoded (doc_ids, score_parts)
        # arrays across all segments — what a production searcher keeps in
        # memory for head terms.  Bounded by entry count; evicted FIFO
        # (decoded arrays are immutable).
        self._postings_cache: dict[str, tuple] = {}
        self._postings_cache_max = 50_000
        # long-lived batch scorer (operators.topk.BatchScorer): head terms
        # get a dense score vector over this process's doc range built on
        # first use (budget-capped; the corpus-wide scatter-add per query
        # was 57% of warm serve latency), rare/over-budget terms take the
        # sparse path.  One process serves a bounded doc range (per-shard
        # searcher at scale, whole sandbox corpus here), so the vectors
        # stay RAM-trivial.  tdata is the live postings cache: lazy build
        # is what makes sharing a growing cache sound.
        self._idf: dict[str, float] = {}
        self._scorer = BatchScorer(
            self._postings_cache, self._idf, doc_range=(0, self.n_docs)
        )
        # positional sidecar (phrase / NEAR): datasets opened lazily on the
        # first positional query; per-term {doc -> positions} maps cached
        # like postings (immutable once built)
        self._pos_ds = None
        self._positions_cache: dict[str, dict[int, np.ndarray]] = {}
        # alternative-similarity serving (search_alt): raw-decoded
        # postings + (df, cf) stats, cached separately from the BM25
        # parts cache (weights depend on the similarity parameters and
        # are cheap to recompute; the decode is the expensive part)
        self._stats_cache: dict[str, tuple[int, int] | None] = {}
        self._raw_cache: dict[str, tuple] = {}
        self._reg_totals: tuple[int, int] | None = None

    # -- lexicon ---------------------------------------------------------

    def _lookup_terms(self, terms: list[str]) -> dict[str, float]:
        """term -> idf for terms present in the corpus."""
        missing = [t for t in terms if t not in self._term_cache]
        if missing:
            tbl = self._lex_ds.to_table(
                columns=["term", "idf"],
                filter=self._ds.field("term").isin(missing),
            )
            found = {}
            for t, idf in zip(
                tbl.column("term").to_pylist(),
                tbl.column("idf").to_pylist(),
            ):
                found[t] = float(idf)
                self._idf[t] = float(idf)  # feeds the shared BatchScorer
            for t in missing:
                self._term_cache[t] = found.get(t)
        return {
            t: meta for t in terms if (meta := self._term_cache[t]) is not None
        }

    # -- postings ---------------------------------------------------------

    def _decode_missing(self, cache: dict, missing: list[str], decode, empty):
        """Decode every segment's blocks of the `missing` terms into
        `cache` (term -> decode(term's block frame)); terms with no blocks
        get `empty`.  Ordering by (shard, first_doc_id) inside the decoder
        is global doc_id order: shards are contiguous doc ranges and
        extension segments get strictly higher shard ids over strictly
        higher doc ranges."""
        parts = [p for seg in self._segments for p in seg.blocks_for(missing)]
        if parts:
            pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
            for term, grp in pdf.groupby("term", sort=False):
                cache[term] = decode(grp)
        for t in missing:
            if t not in cache:  # only reachable mid-extension
                cache[t] = empty

    def _decoded_postings(self, term_meta: dict[str, float]) -> dict[str, tuple]:
        """term -> decoded (doc_ids, score_parts), via the hot-postings
        cache (empty terms left out)."""
        missing = sorted(t for t in term_meta if t not in self._postings_cache)
        if missing:
            while (
                len(self._postings_cache) + len(missing) > self._postings_cache_max
                and self._postings_cache
            ):
                self._postings_cache.pop(next(iter(self._postings_cache)))
            self._decode_missing(
                self._postings_cache,
                missing,
                lambda g: decode_term_postings_stream(g, self.avgdl),
                (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)),
            )
        return {
            t: d for t in term_meta if len((d := self._postings_cache[t])[0])
        }

    # -- positions (phrase / NEAR) -----------------------------------------

    def _positions_maps(self, terms: list[str]) -> dict[str, dict[int, np.ndarray]]:
        """term -> {doc_id -> positions array} from the positional sidecar
        (operators/positions.py), term-isin pruned pyarrow reads across all
        sidecar directories, cached per term.  Raises the sidecar's
        absent/stale errors (same contract as the distributed read)."""
        missing = sorted(t for t in terms if t not in self._positions_cache)
        if missing:
            if self._pos_ds is None:
                cat = Catalog(self.root)
                reg = cat.read_registry()
                dirs = reg.get("positions_dirs") or (
                    [reg["positions_dir"]] if reg.get("positions_dir") else None
                )
                if not dirs:
                    raise ValueError(
                        f"index {self.root} has no positional sidecar; run "
                        "build_positions (jobs/build_index.py --positions)"
                    )
                if int(reg.get("positions_n_docs", -1)) != self.n_docs:
                    raise ValueError(
                        "positional sidecar is stale: run extend_positions "
                        "(or build_positions) after extending the index"
                    )
                self._pos_ds = [self._ds.dataset(cat.path(d)) for d in dirs]
            found: dict[str, dict[int, np.ndarray]] = {t: {} for t in missing}
            for d in self._pos_ds:
                tbl = d.to_table(
                    columns=["term", "doc_id", "positions"],
                    filter=self._ds.field("term").isin(missing),
                )
                for t, doc, ps in zip(
                    tbl.column("term").to_pylist(),
                    tbl.column("doc_id").to_pylist(),
                    tbl.column("positions").to_pylist(),
                ):
                    found[t][doc] = np.asarray(ps, dtype=np.int64)
            self._positions_cache.update(found)
        return {t: self._positions_cache.get(t, {}) for t in terms}

    @staticmethod
    def _doc_contains_phrase(posmap, toks: list[str], doc: int) -> bool:
        """Containment by shifted-position intersection: occurrence i of
        the phrase matches at start p iff p+i in positions(t_i)."""
        starts = None
        for i, t in enumerate(toks):
            arr = posmap.get(t, {}).get(doc)
            if arr is None:
                return False
            s = arr - i
            starts = s if starts is None else np.intersect1d(
                starts, s, assume_unique=True
            )
            if not len(starts):
                return False
        return True

    def search_phrase(
        self, phrase: str, k: int = spec.TOP_K_DEFAULT
    ) -> list[tuple[int, int, float]]:
        """Quoted-phrase top-k, rank-identical to plans/phrase.phrase_topk
        (verify="positions"): conjunctive full-match candidates with exact
        BM25 scores, positional containment verify."""
        toks = spec.tokenize(phrase)  # ordered, duplicates kept
        if not toks:
            return []
        hits = self.search(
            " ".join(sorted(set(toks))), mode=spec.MODE_CONJUNCTIVE,
            k=self.n_docs,
        )
        if not hits:
            return []
        posmap = self._positions_maps(sorted(set(toks)))
        out = []
        for _, doc, score in hits:  # already (score DESC, doc ASC)
            if self._doc_contains_phrase(posmap, toks, doc):
                out.append((doc, score))
                if len(out) == k:
                    break
        return [(r + 1, d, s) for r, (d, s) in enumerate(out)]

    def _expand_prefix(
        self, prefix: str, max_expand: int | None = None
    ) -> list[str]:
        """Corpus terms matching `pre*` — the same lexicon range read
        ([prefix, prefix+0x7f), term-sorted files -> few row groups) and
        df-desc cap as the distributed plan (plans/bm25.expand_prefix)."""
        tbl = self._lex_ds.to_table(
            columns=["term", "df"],
            filter=(self._ds.field("term") >= prefix)
            & (self._ds.field("term") < prefix + "\x7f"),
        )
        pairs = sorted(
            zip(tbl.column("term").to_pylist(), tbl.column("df").to_pylist()),
            key=lambda p: (-p[1], p[0]),
        )
        if max_expand is not None:
            pairs = pairs[:max_expand]
        return sorted(t for t, _ in pairs)

    def _expand_fuzzy(
        self, term: str, max_dist: int = 1, max_expand: int | None = None
    ) -> list[str]:
        """Corpus terms within max_dist edits of `term` — identical
        semantics and cap as the distributed plan (plans/bm25.expand_fuzzy;
        see its docstring for the 100 TB sidecar path)."""
        from .bm25 import _lev_leq

        tbl = self._lex_ds.to_table(columns=["term", "df"])
        lo, hi = len(term) - max_dist, len(term) + max_dist
        pairs = sorted(
            (
                (t, df)
                for t, df in zip(
                    tbl.column("term").to_pylist(),
                    tbl.column("df").to_pylist(),
                )
                if lo <= len(t) <= hi and _lev_leq(term, t, max_dist)
            ),
            key=lambda p: (-p[1], p[0]),
        )
        if max_expand is not None:
            pairs = pairs[:max_expand]
        return sorted(t for t, _ in pairs)

    def search_query(
        self,
        text: str,
        mode: str = spec.MODE_DISJUNCTIVE,
        k: int = spec.TOP_K_DEFAULT,
        max_expand: int | None = None,
    ) -> list[tuple[int, int, float]]:
        """Unified search syntax (plans/search.py semantics), serve-side:
        plain terms score BM25 under `mode`, "quoted phrases" are required
        (positional verify), -terms exclude via the scorer mask, -"quoted
        phrases" exclude via the same verify, `wor*` expands to the
        matching corpus terms and `word~`/`word~2` to terms within the
        edit budget (negated forms exclude the family).
        Rank-identical to plans/search.search_topk."""
        from .search import parse_query

        p = parse_query(text)
        pos = p.positive_tokens
        negs = p.neg_terms
        if (p.prefixes or p.fuzzies) and mode == spec.MODE_CONJUNCTIVE:
            raise ValueError(
                "prefix (`wor*`) and fuzzy (`word~`) terms are any-of by "
                "definition and require disjunctive mode"
            )
        if p.prefixes or p.neg_prefixes or p.fuzzies or p.neg_fuzzies:
            exp = {
                pre: self._expand_prefix(pre, max_expand)
                for pre in set(p.prefixes) | set(p.neg_prefixes)
            }
            fexp = {
                fz: self._expand_fuzzy(fz[0], fz[1], max_expand)
                for fz in set(p.fuzzies) | set(p.neg_fuzzies)
            }
            pos = sorted(
                set(pos)
                | {t for pre in p.prefixes for t in exp[pre]}
                | {t for fz in p.fuzzies for t in fexp[fz]}
            )
            negs = sorted(
                set(negs)
                | {t for pre in p.neg_prefixes for t in exp[pre]}
                | {t for fz in p.neg_fuzzies for t in fexp[fz]}
            )
        if not pos:
            return []
        need_verify = bool(p.phrases or p.neg_phrases)
        hits = self.search(
            " ".join(pos), mode=mode,
            k=self.n_docs if need_verify else k,
            exclude=" ".join(negs) or None,
        )
        if not hits or not need_verify:
            return hits[:k]
        ph_toks = [spec.tokenize(ph) for ph in p.phrases]
        neg_toks = [spec.tokenize(ph) for ph in p.neg_phrases]
        posmap = self._positions_maps(
            sorted({t for toks in ph_toks + neg_toks for t in toks})
        )
        out = []
        for _, doc, score in hits:
            if all(self._doc_contains_phrase(posmap, t, doc) for t in ph_toks) \
               and not any(
                   self._doc_contains_phrase(posmap, t, doc) for t in neg_toks
               ):
                out.append((doc, score))
                if len(out) == k:
                    break
        return [(r + 1, d, s) for r, (d, s) in enumerate(out)]

    def search_near(
        self, query: str, window: int = 8, k: int = spec.TOP_K_DEFAULT
    ) -> list[tuple[int, int, float]]:
        """NEAR top-k, rank-identical to plans/near.near_topk: all query
        terms within `window` consecutive token positions (anchor rule —
        a covering window starts at an occurrence)."""
        if window < 1:
            raise ValueError(f"window must be >= 1, got {window}")
        terms = sorted(set(spec.tokenize(query)))
        if not terms:
            return []
        hits = self.search(
            " ".join(terms), mode=spec.MODE_CONJUNCTIVE, k=self.n_docs
        )
        if not hits:
            return []
        posmap = self._positions_maps(terms)
        out = []
        for _, doc, score in hits:
            arrs = [posmap[t].get(doc) for t in terms]
            if any(a is None for a in arrs):
                continue
            anchors = arrs[0] if len(arrs) == 1 else np.unique(
                np.concatenate(arrs)
            )
            ok = False
            for a in anchors.tolist():
                if all(
                    (j := np.searchsorted(arr, a)) < len(arr)
                    and arr[j] < a + window
                    for arr in arrs
                ):
                    ok = True
                    break
            if ok:
                out.append((doc, score))
                if len(out) == k:
                    break
        return [(r + 1, d, s) for r, (d, s) in enumerate(out)]

    # -- query -------------------------------------------------------------

    def search(
        self,
        query: str,
        mode: str = spec.MODE_DISJUNCTIVE,
        k: int = spec.TOP_K_DEFAULT,
        exclude: str | None = None,
    ) -> list[tuple[int, int, float]]:
        """[(rank, doc_id, score)] under the canonical tie-break.

        exclude: minus-term text — docs containing ANY of its tokens are
        removed BEFORE top-k selection (exact kth, same contract as the
        distributed path's `exclude=`); their postings ride the same
        term/postings caches as query terms."""
        toks = sorted(set(spec.tokenize(query)))
        n_terms = len(toks)
        if not n_terms:
            return []
        meta = self._lookup_terms(toks)
        if not meta or (mode == spec.MODE_CONJUNCTIVE and len(meta) < n_terms):
            return []
        decoded = self._decoded_postings(meta)
        mask = None
        if exclude:
            edec = self._decoded_postings(
                self._lookup_terms(sorted(set(spec.tokenize(exclude))))
            )
            ids = [d[0] for d in edec.values()]
            if ids:
                mask = ids[0] if len(ids) == 1 else np.unique(np.concatenate(ids))
        if self._deleted is not None:
            mask = (
                self._deleted
                if mask is None
                else np.unique(np.concatenate([mask, self._deleted]))
            )
        # ascending term order == the distributed path's accumulation order
        # -> identical float score per doc
        d, s = self._scorer.topk_set(sorted(decoded), k, mode, n_terms, mask)
        return [
            (r + 1, doc, score)
            for r, (doc, score) in enumerate(zip(d.tolist(), s.tolist()))
        ]

    def _lookup_stats(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """term -> (df, cf) for corpus-present terms (pruned lexicon read,
        same shape as _lookup_terms)."""
        missing = [t for t in terms if t not in self._stats_cache]
        if missing:
            tbl = self._lex_ds.to_table(
                columns=["term", "df", "cf"],
                filter=self._ds.field("term").isin(missing),
            )
            found = {
                t: (int(d), int(c))
                for t, d, c in zip(
                    tbl.column("term").to_pylist(),
                    tbl.column("df").to_pylist(),
                    tbl.column("cf").to_pylist(),
                )
            }
            for t in missing:
                self._stats_cache[t] = found.get(t)
        return {
            t: m for t in terms if (m := self._stats_cache[t]) is not None
        }

    def _raw_postings(self, terms_sorted: list[str]) -> dict[str, tuple]:
        """term -> raw (doc_ids, tfs, doc_lens), via its own cache."""
        missing = sorted(t for t in terms_sorted if t not in self._raw_cache)
        if missing:
            z = np.empty(0, dtype=np.int64)
            self._decode_missing(
                self._raw_cache, missing, decode_term_postings_raw, (z, z, z)
            )
        return {t: self._raw_cache[t] for t in terms_sorted}

    def search_alt(
        self,
        query: str,
        similarity: str = "dirichlet",
        k: int = spec.TOP_K_DEFAULT,
        mu: float = 2000.0,
    ) -> list[tuple[int, int, float]]:
        """[(rank, doc_id, score)] under an ALTERNATIVE similarity —
        the serving-path twin of plans/simalt.alt_topk (same contracts:
        LM-Dirichlet with per-term clamp, classic TF-IDF; disjunctive
        bag-of-words; ties by doc_id asc), rank- and float-identical to
        the distributed path (ascending-term accumulation order, same
        elementwise expressions)."""
        if similarity not in ("dirichlet", "tfidf"):
            raise ValueError(f"unknown similarity: {similarity}")
        toks = sorted(set(spec.tokenize(query)))
        if not toks:
            return []
        stats = self._lookup_stats(toks)
        if not stats:
            return []
        if self._reg_totals is None:
            reg = Catalog(self.root).read_registry()
            self._reg_totals = (int(reg["n_docs"]), int(reg["sum_dl"]))
        n_docs, total = self._reg_totals
        raw = self._raw_postings(sorted(stats))
        mu = float(mu)
        chunks_ids, chunks_w = [], []
        for t in sorted(stats):
            ids, tfs, dls = raw[t]
            if not len(ids):
                continue
            chunks_ids.append(ids)
            chunks_w.append(
                term_weights(similarity, tfs, dls, *stats[t], n_docs, total, mu)
            )
        if not chunks_ids:
            return []
        ids = np.concatenate(chunks_ids)
        w = np.concatenate(chunks_w)
        uniq, inv = np.unique(ids, return_inverse=True)
        sums = np.zeros(len(uniq))
        np.add.at(sums, inv, w)
        if self._deleted is not None and len(uniq):
            keep = ~np.isin(uniq, self._deleted)
            uniq, sums = uniq[keep], sums[keep]
        order = np.lexsort((uniq, -sums))[: int(k)]
        return [
            (r + 1, int(uniq[i]), float(sums[i]))
            for r, i in enumerate(order)
        ]

    def refresh(self) -> bool:
        """Re-open the searcher iff the index advanced — Lucene's
        reopen-if-changed, the serving loop's visibility mechanism for
        every commit kind (extension, streaming micro-batch, delete,
        update, compaction).  Steady-state cost is ONE registry read (the
        atomic-rename commit file, metadata-scale at any corpus size);
        on a version change the searcher fully re-initializes — new
        segment readers, fresh live-docs set, caches
        dropped (their keys may be stale) — against the new registry's
        consistent snapshot.  Returns True when it re-opened.  Not safe
        against concurrent in-flight reads of the SAME searcher object;
        call it between requests (or swap a fresh LocalSearcher in)."""
        reg = Catalog(self.root).read_registry()
        if int(reg.get("version", 0)) == self._version:
            return False
        self.__init__(self.root, preload=self._preload)
        return True

    def explain(
        self,
        query: str,
        doc_id: int,
        mode: str = spec.MODE_DISJUNCTIVE,
        exclude: str | None = None,
    ) -> dict | None:
        """Lucene's IndexSearcher.explain: the per-term BM25 breakdown of
        one document's score for a query (plans/explain.explain), or None
        when the doc wouldn't match.  The total is bit-identical to this
        searcher's search() score for the same pair.  Reads the index
        files directly against the CURRENT registry (a debugging path —
        one pruned read per call, no caches), so after a commit it sees
        the new state even before refresh()."""
        from .explain import explain as _explain

        return _explain(self.root, query, doc_id, mode=mode, exclude=exclude)

    def more_like_this(
        self,
        doc_id: int,
        k: int = spec.TOP_K_DEFAULT,
        max_terms: int = 10,
        min_tf: int = 1,
        min_df: int = 1,
    ) -> list[tuple[int, int, float]]:
        """Sparkless More-Like-This: the seed doc's interesting terms
        (plans/mlt.interesting_terms — doc-id-pruned pyarrow reads, no
        Spark job) scored by THIS searcher, the seed excluded and ranks
        renumbered.  Rank-identical to plans/mlt.mlt_topk (same term
        selection, same scorer) — ms-latency "related results" next to a
        hit.  Term vectors read the CURRENT index files (like explain);
        the retrieval uses this searcher's snapshot."""
        from .mlt import interesting_terms

        terms = interesting_terms(
            self.root, {"q": int(doc_id)},
            max_terms=max_terms, min_tf=min_tf, min_df=min_df,
        )["q"]
        if not terms:
            return []
        hits = self.search(" ".join(terms), k=k + 1)
        return [
            (i + 1, d, s)
            for i, (_, d, s) in enumerate(
                [row for row in hits if row[1] != int(doc_id)][:k]
            )
        ]

    def suggest(
        self, text: str, max_dist: int = 2, per_term: int = 3
    ) -> dict[str, list[tuple[str, int, int]]]:
        """Did-you-mean for a query box (plans/suggest.suggest): for each
        tokenized word of `text` absent from the vocabulary, the closest
        in-vocabulary terms as (suggestion, df, dist), ranked (dist asc,
        df desc, term asc).  Sparkless — lexicon reads only."""
        from .suggest import suggest as _suggest

        return _suggest(self.root, text, max_dist=max_dist, per_term=per_term)

    def urls_for(self, doc_ids: list[int]) -> dict[int, str]:
        """doc_id -> url via a doc_id-isin pruned docmap read (the docmap is
        written in doc_id order, so parquet min/max stats prune to the hit
        rows' row groups — NEVER a full docmap materialization)."""
        out: dict[int, str] = {}
        if not doc_ids:
            return out
        ids = sorted(set(doc_ids))
        for dm in self._docmap_ds:
            tbl = dm.to_table(
                columns=["doc_id", "url"],
                filter=self._ds.field("doc_id").isin(ids),
            )
            out.update(
                zip(tbl.column("doc_id").to_pylist(), tbl.column("url").to_pylist())
            )
        return out

    def mget(self, doc_ids: list[int]) -> list[dict]:
        """ES _mget: one result dict per REQUESTED id, in request order —
        {"doc_id", "found", "url"} — found=False for ids outside the
        corpus AND for tombstoned docs (ES GET stops returning a doc the
        moment it is deleted, before any merge reclaims it).  Same
        doc_id-isin pruned docmap read as urls_for: never a full docmap
        scan."""
        umap = self.urls_for(doc_ids)
        dead = self._deleted
        out = []
        for d in doc_ids:
            gone = False
            if dead is not None:
                i = int(np.searchsorted(dead, d))
                gone = i < len(dead) and int(dead[i]) == int(d)
            url = umap.get(d)
            out.append(
                {
                    "doc_id": d,
                    "found": url is not None and not gone,
                    "url": None if gone else url,
                }
            )
        return out

    def field_caps(self) -> list[dict]:
        """ES _field_caps: what each field of this index supports,
        derived from the registry (no data read).  `positional` reflects
        whether the positions sidecar exists AND covers the current
        corpus (a stale sidecar after extension reports un-positional,
        matching the phrase plan's refusal)."""
        reg = Catalog(self.root).read_registry()
        # same dir resolution as operators.positions.read_positions
        # (plural key, legacy singular fallback)
        pos_dirs = reg.get("positions_dirs") or (
            [reg["positions_dir"]] if reg.get("positions_dir") else None
        )
        has_pos = bool(pos_dirs) and int(
            reg.get("positions_n_docs", -1)
        ) == int(reg["n_docs"])
        return [
            {
                "field": "text",
                "type": "text",
                "searchable": True,
                "aggregatable": False,
                "positional": has_pos,
            },
            {
                "field": "url",
                "type": "keyword",
                "searchable": False,
                "aggregatable": True,
                "positional": False,
            },
        ]

    def search_batch(
        self,
        queries: dict[str, str],
        mode: str = spec.MODE_DISJUNCTIVE,
        k: int = spec.TOP_K_DEFAULT,
        with_url: bool = False,
        exclude: dict[str, str] | None = None,
    ) -> pd.DataFrame:
        """(query_id, rank, doc_id[, url], score) rows for a whole query dict.

        exclude: optional query_id -> minus-term text (see search())."""
        qids, ranks, docs, scores = [], [], [], []
        for qid, text in queries.items():
            for rank, doc_id, score in self.search(
                text, mode=mode, k=k, exclude=(exclude or {}).get(qid)
            ):
                qids.append(qid)
                ranks.append(rank)
                docs.append(doc_id)
                scores.append(score)
        cols = {
            "query_id": pd.array(qids, dtype="string"),
            "rank": pd.array(ranks, dtype="int32"),
            "doc_id": pd.array(docs, dtype="int64"),
            "score": pd.array(scores, dtype="float64"),
        }
        if with_url:
            umap = self.urls_for(docs)
            cols["url"] = pd.array([umap.get(d) for d in docs], dtype="string")
        return pd.DataFrame(cols)
