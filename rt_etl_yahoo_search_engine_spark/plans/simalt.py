"""Pluggable query-time similarities over the SAME inverted index.

Elasticsearch/Lucene let an index swap BM25 for another scoring model
per field (the `similarity` setting: `LMDirichlet`, `classic` TF-IDF —
LMDirichletSimilarity / ClassicSimilarity).  The posting lists don't
change — only the per-term weight formula does — so these run as
alternative weight kernels over the IDENTICAL pruned posting reads the
BM25 paths use (operators/unitscan + topk.decode_unit_postings_raw), with per-term
corpus statistics (df, cf) from the lexicon sidecar and (N, total
tokens) from the registry.

Deterministic contracts (exact, DuckDB-oracle-checkable; Lucene's
numerics are followed in shape, not bit-for-bit):

  dirichlet (mu):  w(t, d) = max(0, ln(1 + tf / (mu * cf_t / T))
                                  + ln(mu / (dl + mu)))
                   (LM with Dirichlet smoothing, Zhai & Lafferty 2001;
                   per-term clamp at 0 keeps scores non-negative, the
                   Lucene convention)
  tfidf:           idf_c = 1 + ln(N / (df_t + 1))
                   w(t, d) = sqrt(tf) * idf_c^2 / sqrt(dl)
                   (Lucene ClassicSimilarity sans the dropped
                   queryNorm/coord factors)

score(q, d) = sum of w over q's index-present terms (disjunctive
bag-of-words); top-k by (score DESC, doc_id ASC).

Scale shape: identical to the scan-side BM25 batch path — each
(segment, doc-range shard) unit reads ONLY the query terms' blocks
(term-isin row-group pruning), decodes each once, scores every query
set vectorized, and emits k rows per (set, unit); the only exchange is
the k-rows window merge.  Doc-range sharding makes every doc's postings
unit-local, so per-unit top-k is globally correct after the merge.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from .. import spec
from ..operators.topk import decode_unit_postings_raw
from ..operators.unitscan import scan_units
from ..sources.catalog import Catalog
from .stats import _plan


def lexicon_df_cf(cat: Catalog, reg: dict, terms: list[str]) -> dict:
    """term -> (df, cf) for corpus-present terms (pruned driver-side
    pyarrow lookup, same shape as bm25.lexicon_idf)."""
    import pyarrow.dataset as ds

    lex = ds.dataset(cat.path(reg["lexicon_dir"]))
    tbl = lex.to_table(
        columns=["term", "df", "cf"], filter=ds.field("term").isin(terms)
    )
    return {
        t: (int(d), int(c))
        for t, d, c in zip(
            tbl.column("term").to_pylist(),
            tbl.column("df").to_pylist(),
            tbl.column("cf").to_pylist(),
        )
    }


def term_weights(similarity, tfs, dls, df_t, cf_t, n_docs, total, mu):
    """Per-posting weight of one term under `similarity` (module
    docstring) — the one kernel both this plan and the serving searcher
    (plans/serve.search_alt) run, so their scores are float-identical."""
    tfs = tfs.astype(np.float64)
    dls = dls.astype(np.float64)
    if similarity == "dirichlet":
        w = np.log(1.0 + tfs / (mu * (cf_t / total)))
        w += np.log(mu / (dls + mu))
        np.maximum(w, 0.0, out=w)
        return w
    idf_c = 1.0 + np.log(n_docs / (df_t + 1.0))  # tfidf
    return np.sqrt(tfs) * (idf_c * idf_c) / np.sqrt(dls)


def alt_topk(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    similarity: str = "dirichlet",
    k: int = 10,
    mu: float = 2000.0,
) -> DataFrame:
    """Top-k under an alternative similarity (module docstring)."""
    if similarity not in ("dirichlet", "tfidf"):
        raise ValueError(f"unknown similarity: {similarity}")
    schema = "query_id string, rank int, doc_id long, score double"
    empty = spark.createDataFrame([], schema)
    plan = _plan(spark, index_root, queries, spec.MODE_DISJUNCTIVE)
    if plan is None:
        return empty
    set_terms, map_df, units, corpus_terms, del_paths, _idf, _avgdl = plan
    cat = Catalog(index_root)
    reg = cat.read_registry()
    dfcf = lexicon_df_cf(cat, reg, corpus_terms)
    n_docs, total = int(reg["n_docs"]), int(reg["sum_dl"])
    mu, k = float(mu), int(k)

    def score_unit(raw, deleted):
        tdata = {
            t: (ids, term_weights(similarity, tfs, dls, *dfcf[t], n_docs,
                                  total, mu))
            for t, (ids, tfs, dls) in raw.items()
        }
        for si, terms in enumerate(set_terms):
            present = [t for t in terms if t in tdata]
            if not present:
                continue
            ids = np.concatenate([tdata[t][0] for t in present])
            sc = np.concatenate([tdata[t][1] for t in present])
            uniq, inv = np.unique(ids, return_inverse=True)
            sums = np.zeros(len(uniq))
            np.add.at(sums, inv, sc)
            if deleted is not None and len(uniq):
                keep = ~np.isin(uniq, deleted)
                uniq, sums = uniq[keep], sums[keep]
            if not len(uniq):
                continue
            # per-unit top-k by (score desc, doc_id asc): globally
            # correct because doc-range shards are doc-complete
            order = np.lexsort((uniq, -sums))[:k]
            yield pd.DataFrame(
                {"set_idx": si, "doc_id": uniq[order], "score": sums[order]}
            )

    rel = scan_units(
        spark, units, corpus_terms, del_paths, decode_unit_postings_raw,
        score_unit, "set_idx int, doc_id long, score double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        rel.join(F.broadcast(map_df), "set_idx")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int"), "doc_id", "score")
    )
