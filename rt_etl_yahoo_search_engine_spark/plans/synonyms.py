"""Query-time synonym expansion — Lucene SynonymQuery / ES
`synonym_graph` filter semantics, reproduced EXACTLY:

Each original query token is a CLAUSE whose synonym group matches as one
pseudo-term with BLENDED statistics (Lucene SynonymQuery):

  * tf_clause(doc)  = SUM of the group members' tfs in the doc
    (the members are "the same word", so occurrences pool);
  * df_clause       = MAX of the members' corpus document frequencies —
    equivalently idf_clause = MIN of their idfs (idf is monotone
    decreasing in df), Lucene's "score as the most common spelling";
  * clause weight   = idf_clause * (tf_clause*(k1+1)) /
                      (tf_clause + k1*(1-b+b*dl/avgdl))  — the SAME tf
    normalization as a single term, applied to the pooled tf;
  * doc score       = sum over clauses (BooleanQuery OR of
    SynonymQueries), so with no synonyms configured this reduces
    bit-identically to the disjunctive BM25 sum (tested).

This is deliberately NOT max-per-group scoring (that is dis_max,
plans/dismax.py): pooling tf and taking the pessimistic idf is what
keeps "tv"/"television" docs comparable regardless of which spelling
they use — the reason Lucene blends.

Scale shape: the same (segment, doc-range shard) unit kernel economics
as plans/stats.score_docs — each unit reads only the expanded term set's
postings (isin pushdown), decodes raw (doc_id, tf, doc_len) streams
once, blends clause-locally in numpy, and emits narrow (query, doc,
score) rows; doc-range sharding makes per-doc sums unit-complete, so
no re-aggregation shuffle.  The synonym table itself is query-metadata
(shipped with the plan), never a corpus-side join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import spec
from ..operators.deletes import deleted_dir_paths
from ..operators.topk import decode_unit_postings_raw
from ..operators.unitscan import scan_units, shard_units
from ..sources.catalog import Catalog
from .bm25 import lexicon_idf


def expand_clauses(
    queries: dict[str, str], synonyms: dict[str, list[str]]
) -> dict[str, list[list[str]]]:
    """query_id -> clause list; each clause is the sorted synonym group
    of one original token (always containing the token itself).  The
    group lookup is symmetric only if the caller's table is — ES
    semantics, where the filter's rules decide directionality."""
    out = {}
    for qid, text in queries.items():
        out[qid] = [
            sorted({t, *synonyms.get(t, [])})
            for t in sorted(set(spec.tokenize(text)))
        ]
    return out


def synonym_topk(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    synonyms: dict[str, list[str]],
    k: int = spec.TOP_K_DEFAULT,
) -> DataFrame:
    """(query_id, rank, doc_id, score): BM25 top-k under query-time
    synonym expansion, ordered (score desc, doc_id asc) over the full
    match relation."""
    cat = Catalog(index_root)
    reg = cat.read_registry()
    avgdl = float(reg["avgdl"])
    qclauses = expand_clauses(queries, synonyms)
    all_terms = sorted({t for cls in qclauses.values() for c in cls for t in c})
    empty = spark.createDataFrame(
        [], "query_id string, rank int, doc_id long, score double"
    )
    if not all_terms:
        return empty
    idf = lexicon_idf(cat, reg, all_terms)
    # (qid, [(present members, clause idf), ...]) — clause idf = min
    # member idf == idf of the max-df member; all-absent clauses drop.
    qplan = []
    for qid, clauses in qclauses.items():
        built = []
        for group in clauses:
            present = [t for t in group if t in idf]
            if present:
                built.append((present, min(idf[t] for t in present)))
        if built:
            qplan.append((qid, built))
    units = shard_units(cat, reg)
    if not qplan or not units:
        return empty
    corpus_terms = sorted({t for _, cls in qplan for ms, _ in cls for t in ms})
    k1, bb = spec.K1, spec.B

    def blend_unit(raw, deleted):
        for qid, clauses in qplan:
            cl_ids, cl_ws = [], []
            for members, c_idf in clauses:
                have = [m for m in members if m in raw]
                if not have:
                    continue
                ids = np.concatenate([raw[m][0] for m in have])
                tfs = np.concatenate([raw[m][1] for m in have])
                dls = np.concatenate([raw[m][2] for m in have])
                uniq, inv = np.unique(ids, return_inverse=True)
                tf_sum = np.zeros(len(uniq))
                np.add.at(tf_sum, inv, tfs)
                dl = np.zeros(len(uniq))
                dl[inv] = dls  # doc_len is per-doc, any write wins
                w = c_idf * (
                    tf_sum
                    * (k1 + 1.0)
                    / (tf_sum + k1 * (1.0 - bb + bb * dl / avgdl))
                )
                cl_ids.append(uniq)
                cl_ws.append(w)
            if not cl_ids:
                continue
            ids = np.concatenate(cl_ids)
            ws = np.concatenate(cl_ws)
            uniq, inv = np.unique(ids, return_inverse=True)
            sums = np.zeros(len(uniq))
            np.add.at(sums, inv, ws)
            if deleted is not None and len(uniq):
                keep = ~np.isin(uniq, deleted)
                uniq, sums = uniq[keep], sums[keep]
            if len(uniq):
                yield pd.DataFrame(
                    {"query_id": qid, "doc_id": uniq, "score": sums}
                )

    rel = scan_units(
        spark, units, corpus_terms, deleted_dir_paths(cat, reg),
        decode_unit_postings_raw, blend_unit,
        "query_id string, doc_id long, score double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        rel.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "rank", "doc_id", "score")
    )
