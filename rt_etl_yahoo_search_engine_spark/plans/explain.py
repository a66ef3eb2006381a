"""Score explanation — Lucene's ``IndexSearcher.explain`` for the BM25
path: the per-term breakdown of WHY one document scored what it did for
a query, straight from the index files.

    weight(t, d) = idf(t) · tf_norm(t, d)
    tf_norm      = tf·(k1+1) / (tf + k1·(1 − b + b·doc_len/avgdl))
    score(q, d)  = Σ_{t ∈ q ∩ d} weight(t, d)

Reads are driver-side pyarrow, no Spark job — the same pruned-read
economics as the serving path (plans/serve.py): one term-isin lexicon
read, then per posting segment only the row groups whose term range
intersects the query AND whose [first_doc_id, last_doc_id] block range
contains the target doc (both bounds are parquet column stats on files
sorted by (term, first_doc_id)).  Exactly the touched blocks decode.

Bit-identity: tf_norm is computed by the scorers' own numpy elementwise
expression (operators/topk.score_parts: same int64→float64 promotion,
same op order), and the total sums
weights in ascending term order — the accumulation order both the batch
scorer and the serving scorer use — so ``explain()['score']`` equals the
search paths' score for the same (query, doc) to the last bit (asserted
by tests/test_explain.py).
"""

from __future__ import annotations

import numpy as np

from .. import spec
from ..operators.codec import decode_doc_ids, decode_varbyte
from ..operators.deletes import deleted_dir_paths, read_deleted_ids
from ..operators.topk import score_parts
from ..sources.catalog import Catalog


def _lexicon_rows(cat: Catalog, reg: dict, terms: list[str]) -> dict[str, dict]:
    import pyarrow.dataset as ds

    lex = ds.dataset(cat.path(reg["lexicon_dir"]))
    tbl = lex.to_table(
        columns=["term", "df", "idf"], filter=ds.field("term").isin(terms)
    )
    return {
        t: {"df": int(df), "idf": float(idf)}
        for t, df, idf in zip(
            tbl.column("term").to_pylist(),
            tbl.column("df").to_pylist(),
            tbl.column("idf").to_pylist(),
        )
    }


def _doc_hits(cat: Catalog, reg: dict, terms: list[str], doc_id: int,
              avgdl: float) -> dict[str, dict]:
    """term -> {tf, doc_len, tf_norm} for the terms whose postings contain
    doc_id.  One pruned read per posting segment; only the single block
    holding the doc decodes per (term, segment)."""
    import pyarrow.dataset as ds

    hits: dict[str, dict] = {}
    for seg in reg["segments"]:
        data = ds.dataset(cat.path(seg["dir"])).to_table(
            columns=["term", "doc_ids_vb", "tfs_vb", "doc_lens_vb"],
            filter=(
                ds.field("term").isin(terms)
                & (ds.field("first_doc_id") <= doc_id)
                & (ds.field("last_doc_id") >= doc_id)
            ),
        )
        for t, ids_vb, tfs_vb, dls_vb in zip(
            data.column("term").to_pylist(),
            data.column("doc_ids_vb").to_pylist(),
            data.column("tfs_vb").to_pylist(),
            data.column("doc_lens_vb").to_pylist(),
        ):
            ids = decode_doc_ids(ids_vb)
            i = int(np.searchsorted(ids, doc_id))
            if i >= len(ids) or ids[i] != doc_id:
                continue
            tfs = decode_varbyte(tfs_vb)
            dls = decode_varbyte(dls_vb)
            # the scorers' own elementwise expression -> bit-identical
            parts = score_parts(tfs, dls, avgdl)
            hits[t] = {
                "tf": int(tfs[i]),
                "doc_len": int(dls[i]),
                "tf_norm": float(parts[i]),
            }
    return hits


def explain(
    index_root: str,
    query: str,
    doc_id: int,
    mode: str = spec.MODE_DISJUNCTIVE,
    exclude: str | None = None,
) -> dict | None:
    """The BM25 explanation of ``doc_id`` for ``query``, or None when the
    doc does not match (no term overlap, a conjunctive miss, an excluded
    token present, or the doc is tombstoned — the cases search() would
    never return it).

    Returns ``{doc_id, score, mode, n_terms, n_matched, doc_len, avgdl,
    k1, b, terms: [{term, tf, df, idf, tf_norm, weight}, ...]}`` with the
    terms in ascending order and ``score == Σ weight`` summed in that
    order — bit-identical to plans/bm25.topk's and plans/serve's score
    for the same pair.
    """
    cat = Catalog(index_root)
    reg = cat.read_registry()
    avgdl = float(reg["avgdl"])
    doc_id = int(doc_id)

    toks = sorted(set(spec.tokenize(query)))
    if not toks:
        return None
    dels = read_deleted_ids(deleted_dir_paths(cat, reg), lo=doc_id, hi=doc_id)
    if len(dels):
        return None

    meta = _lexicon_rows(cat, reg, toks)
    if not meta or (mode == spec.MODE_CONJUNCTIVE and len(meta) < len(toks)):
        return None
    if exclude:
        etoks = sorted(set(spec.tokenize(exclude)))
        if etoks and _doc_hits(cat, reg, etoks, doc_id, avgdl):
            return None

    hits = _doc_hits(cat, reg, sorted(meta), doc_id, avgdl)
    if not hits or (mode == spec.MODE_CONJUNCTIVE and len(hits) < len(toks)):
        return None

    terms = []
    score = 0.0
    doc_len = 0
    for t in sorted(hits):  # ascending term order == the scorers' sum order
        h = hits[t]
        weight = meta[t]["idf"] * h["tf_norm"]
        score += weight
        doc_len = h["doc_len"]
        terms.append(
            {
                "term": t,
                "tf": h["tf"],
                "df": meta[t]["df"],
                "idf": meta[t]["idf"],
                "tf_norm": h["tf_norm"],
                "weight": weight,
            }
        )
    return {
        "doc_id": doc_id,
        "score": score,
        "mode": mode,
        "n_terms": len(toks),
        "n_matched": len(hits),
        "doc_len": doc_len,
        "avgdl": avgdl,
        "k1": spec.K1,
        "b": spec.B,
        "terms": terms,
    }
