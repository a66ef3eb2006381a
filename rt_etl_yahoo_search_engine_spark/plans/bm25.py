"""Query-side planning: BM25 top-k over the built index.

Two paths, both returning (query_id, rank, doc_id, score [, url]):

  * optimized — driver-side lexicon lookup (pyarrow, term-isin row-group
    pruned: query terms are a handful of literals against a vocab-scale
    term-sorted table), then SCAN-SIDE scoring (operators/unitscan): one
    task per (segment, doc-range shard) opens its own shard directory with
    pyarrow, reads only the query terms' row groups, decodes them in ONE
    Arrow pass per unit, and scores each DISTINCT term set of the batch with
    the vectorized batch scorer (operators.topk.BatchScorer: one dense
    score vector per term hoisted over the shard's bounded doc range,
    per-set elementwise add + top-k select; budget-gated scatter/sparse
    fallback, bit-identical) — per (set, shard) the cost is a couple of
    numpy passes over the range, not a per-doc Python loop.  Repeated
    queries (real logs are head-heavy) are scored once; per-query rows are
    expanded after the global merge by a broadcast join on the
    metadata-scale (set_idx, query_id) map.  Only k narrow rows per (set,
    shard) ever leave the task.  Posting payload bytes NEVER enter a Spark
    exchange: the units come from a JVM-side range (one partition per
    unit), and the only shuffle in the plan carries the k-row partials
    for the global window merge.
  * oracle — exhaustive DataFrame scoring over the staged posting rows
    (operators.topk.exhaustive_topk), used by tests and the driver gate.

All queries of a batch run in ONE Spark job — the engine amortizes scan
and decode across the whole query set (the reference instead paid a
Kafka+Postgres round trip per query; ref: src/router.py:91-127).

At 10^12 docs this is the classic document-partitioned search plan: unit
count = number of shards (each a bounded doc range), every unit reads only
its own directory (partition pruning by construction) plus the terms' row
groups within it (parquet min/max stats on the term-sorted files).  No
hot-term skew exists by design: a stop-word's postings are split across
every shard, so the hottest task is bounded by df/n_shards.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import spec
from ..operators.deletes import deleted_dir_paths
from ..operators.topk import (
    BatchScorer,
    decode_unit_postings_stream,
    exhaustive_topk,
)
from ..operators.unitscan import scan_units, shard_units
from ..sources.catalog import Catalog


def build_qmeta(
    spark: SparkSession, queries: dict[str, str], mode: str
) -> tuple[DataFrame, list[str]]:
    """(query_id, term, n_terms, mode) rows — one per DISTINCT query token —
    plus the driver-side term list (for isin pushdown). Oracle-path helper."""
    rows = []
    all_terms: set[str] = set()
    for qid, text in queries.items():
        toks = sorted(set(spec.tokenize(text)))
        all_terms.update(toks)
        for t in toks:
            rows.append((qid, t, len(toks), mode))
    df = spark.createDataFrame(
        rows, schema="query_id string, term string, n_terms int, mode string"
    )
    return df, sorted(all_terms)


def lexicon_idf(cat: Catalog, reg: dict, terms: list[str]) -> dict[str, float]:
    """term -> idf for terms present in the corpus: a driver-side pyarrow
    read with term-isin pushdown (vocab-scale table, term-sorted files —
    touches a few row groups, the same lookup the serving path does)."""
    import pyarrow.dataset as ds

    lex = ds.dataset(cat.path(reg["lexicon_dir"]))
    tbl = lex.to_table(columns=["term", "idf"], filter=ds.field("term").isin(terms))
    return {
        t: float(i)
        for t, i in zip(tbl.column("term").to_pylist(), tbl.column("idf").to_pylist())
    }


def lexicon_df(cat: Catalog, reg: dict, terms: list[str]) -> dict[str, int]:
    """term -> df for terms present in the corpus (same pruned driver-side
    pyarrow lookup as lexicon_idf) — the per-index input to federated
    global-stats combination (plans/federate)."""
    import pyarrow.dataset as ds

    lex = ds.dataset(cat.path(reg["lexicon_dir"]))
    tbl = lex.to_table(columns=["term", "df"], filter=ds.field("term").isin(terms))
    return {
        t: int(d)
        for t, d in zip(tbl.column("term").to_pylist(), tbl.column("df").to_pylist())
    }


def expand_prefix(
    cat: Catalog, reg: dict, prefix: str, max_expand: int | None = None
) -> list[str]:
    """Corpus terms matching `prefix` (the `pre*` search operator), from the
    lexicon via a driver-side pyarrow RANGE read [prefix, prefix+0x7f) —
    terms are [a-z0-9]+ so the half-open ASCII bound is exact, and the
    term-sorted lexicon files make it a few row groups regardless of vocab
    size (the same economics as lexicon_idf's isin lookup).  max_expand
    keeps the highest-df expansions (deterministic df-desc, term-asc
    tie-break) — the production cap against hostile one-letter prefixes;
    None expands fully (oracle-checkable)."""
    import pyarrow.dataset as ds

    lex = ds.dataset(cat.path(reg["lexicon_dir"]))
    tbl = lex.to_table(
        columns=["term", "df"],
        filter=(ds.field("term") >= prefix) & (ds.field("term") < prefix + "\x7f"),
    )
    pairs = sorted(
        zip(tbl.column("term").to_pylist(), tbl.column("df").to_pylist()),
        key=lambda p: (-p[1], p[0]),
    )
    if max_expand is not None:
        pairs = pairs[:max_expand]
    return sorted(t for t, _ in pairs)


def _lev_leq(a: str, b: str, d: int) -> bool:
    """levenshtein(a, b) <= d — full DP with a row-min early exit (terms
    are short; plain edit distance, transposition = 2, matching DuckDB's
    levenshtein() so the oracle is bit-faithful)."""
    if abs(len(a) - len(b)) > d:
        return False
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        if min(cur) > d:
            return False
        prev = cur
    return prev[-1] <= d


def expand_fuzzy(
    cat: Catalog,
    reg: dict,
    term: str,
    max_dist: int = 1,
    max_expand: int | None = None,
) -> list[str]:
    """Corpus terms within `max_dist` edits of `term` (the `term~` search
    operator), from the lexicon: one (term, df) column read, a length-band
    prescreen, then exact banded DP.  df-desc `max_expand` cap as
    expand_prefix.

    Scale note: this reads the term column once per expansion batch —
    vocab-scale driver I/O, fine up to ~10^7 terms.  The 100 TB path is a
    derived deletes sidecar (SymSpell: index every ≤d-deletion variant of
    every term) or the pigeonhole split (a ≤d-edit candidate must share
    q's first half as a prefix OR q's second half as a suffix — one range
    read on the term-sorted lexicon + one on a reversed-term sidecar);
    both are derived data with the positions-sidecar lifecycle.  The
    operator's semantics are fixed here either way."""
    import pyarrow.dataset as ds

    lex = ds.dataset(cat.path(reg["lexicon_dir"]))
    tbl = lex.to_table(columns=["term", "df"])
    lo, hi = len(term) - max_dist, len(term) + max_dist
    pairs = sorted(
        (
            (t, df)
            for t, df in zip(
                tbl.column("term").to_pylist(), tbl.column("df").to_pylist()
            )
            if lo <= len(t) <= hi and _lev_leq(term, t, max_dist)
        ),
        key=lambda p: (-p[1], p[0]),
    )
    if max_expand is not None:
        pairs = pairs[:max_expand]
    return sorted(t for t, _ in pairs)


def topk(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    mode: str = spec.MODE_DISJUNCTIVE,
    k: int = spec.TOP_K_DEFAULT,
    with_url: bool = False,
    fields: DataFrame | None = None,
    exclude: dict[str, str] | None = None,
    _partials_only: bool = False,
    idf_override: dict[str, float] | None = None,
    avgdl_override: float | None = None,
) -> DataFrame:
    """Optimized path: compressed postings scored scan-side per (segment,
    shard) with the whole query batch broadcast (vectorized TAAT).

    fields: optional url-keyed table of result fields (e.g. the
    extracted(url, seq, link, date, body) table the reference's read path
    returns — ref src/services/daos/extracted_search_results_dao.py:23-63).
    The k x Q hit set is broadcast onto ONE scan of the fields table, so
    materialization never shuffles it; a url with N field rows expands to N
    result rows, exactly the reference's per-url row group.

    idf_override / avgdl_override: federated global statistics
    (plans/federate.federated_topk) — scores compute with these instead
    of this index's own lexicon idf / registry avgdl, which is what
    makes per-index scoring equal to a single merged index (ES
    dfs_query_then_fetch).  Defaults leave single-index behaviour
    byte-identical.

    exclude: optional query_id -> minus-term text ("-term" search syntax):
    docs containing ANY excluded token are removed BEFORE top-k selection
    (the kth result is exact, not a post-filtered gap).  Scale shape: the
    excluded terms' postings are decoded by the same scan-side task that
    scores the shard — each unit holds its own doc range's complete
    posting lists, so the exclusion doc set is unit-local, never
    broadcast, never shuffled; the scorer zeroes those slots before
    selection (operators.topk.BatchScorer masks).  A positive token that
    is also excluded is simply dead weight (every surviving doc lacks
    it), which empties conjunctive queries naturally."""
    cat = Catalog(index_root)
    reg = cat.read_registry()
    avgdl = float(reg["avgdl"]) if avgdl_override is None else float(avgdl_override)
    # the no-hit early returns must carry the SAME columns as the full path
    # (an all-out-of-vocab conjunctive batch with with_url=True otherwise
    # breaks downstream selects, e.g. plans/phrase.py's re-rank)
    empty_schema = "query_id string, rank int, doc_id long"
    if with_url or fields is not None:
        empty_schema += ", url string"
    empty_schema += ", score double"

    def empty() -> DataFrame:
        # built only on the no-hit returns: createDataFrame is a py4j
        # round trip the scoring path has no use for
        out = spark.createDataFrame([], empty_schema)
        extra = [c for c in fields.columns if c != "url"] if fields is not None else []
        if extra:
            out = out.join(fields.limit(0).drop("url"), how="cross").select(
                "query_id", "rank", "doc_id", "url", "score", *extra
            )
        return out

    qtoks = {qid: sorted(set(spec.tokenize(text))) for qid, text in queries.items()}
    qexcl = {
        qid: sorted(set(spec.tokenize(text)))
        for qid, text in (exclude or {}).items()
    }
    all_terms = sorted(
        {t for toks in qtoks.values() for t in toks}
        | {t for toks in qexcl.values() for t in toks}
    )
    if not any(qtoks.values()):
        return empty()
    idf = lexicon_idf(cat, reg, all_terms)
    if idf_override is not None:
        # federated scoring (plans/federate): LOCAL term presence decides
        # set planning/conjunctive gating, the GLOBAL value decides weight
        idf = {t: float(idf_override[t]) for t in idf}
    # Distinct-TERM-SET planning: real query logs are head-heavy (the same
    # hot queries repeat), and scoring depends only on the canonical present
    # term set — so each distinct set is scored ONCE per shard and the
    # per-query results are expanded afterwards by a broadcast join on the
    # metadata-scale (set_id, query_id) map.  n_terms counts the ORIGINAL
    # distinct tokens, so a conjunctive query with an out-of-corpus term
    # correctly returns nothing (and any qualifying conjunctive query has
    # present == its token set, making the canonical key sufficient).
    setplan: dict[tuple[tuple[str, ...], tuple[str, ...]], int] = {}
    qmap: list[tuple[int, str]] = []  # (set_idx, query_id)
    for qid, toks in qtoks.items():
        present = tuple(t for t in toks if t in idf)
        if not present:
            continue
        if mode == spec.MODE_CONJUNCTIVE and len(present) < len(toks):
            continue
        # exclusion is part of the distinct-set key: same positive terms
        # with different minus-terms score differently.  Excluded tokens
        # absent from the lexicon are no-ops (no doc contains them).
        excl = tuple(t for t in qexcl.get(qid, ()) if t in idf)
        sid = setplan.setdefault((present, excl), len(setplan))
        qmap.append((sid, qid))
    units = shard_units(cat, reg)
    if not setplan or not units:
        return empty()

    # sets as an ORDERED list: the shuffle key is the set's integer
    # position (4 bytes through the exchange, int window key), mapped back
    # to query ids by the broadcast join after the merge
    set_terms = [list(terms) for terms, _ in setplan]
    set_excls = [list(excl) for _, excl in setplan]
    corpus_terms = sorted(
        {t for terms, excl in setplan for t in (*terms, *excl)}
    )

    def score_unit(tdata, deleted):
        # every union term is decoded ONCE per unit into (doc_ids,
        # score_parts); the whole distinct-set batch is then scored by
        # chunked matrix ops (operators.topk.BatchScorer.topk_sets: union-
        # term score matrix built once per unit, chunk-of-sets f32 gather-
        # add with tile-max-bounded candidate selection, exact f64 scores
        # for the ~k candidates; budget-gated sparse fallback,
        # bit-identical).  Scores use the CURRENT corpus avgdl, so
        # extended segments need no correction.
        masks = None
        if any(set_excls) or deleted is not None:
            # unit-local exclusion doc sets: each unit holds the complete
            # posting lists for its own doc range, so the minus-terms' doc
            # ids here ARE the excluded docs here; tombstoned docs are
            # masked the same way (operators/deletes.py)
            masks = []
            for excl in set_excls:
                ids = [
                    tdata[t][0] for t in excl if t in tdata and len(tdata[t][0])
                ]
                if deleted is not None:
                    ids.append(deleted)
                masks.append(np.unique(np.concatenate(ids)) if ids else None)
        si, d, s = BatchScorer(tdata, idf).topk_sets(
            set_terms, k, mode, masks=masks
        )
        if len(si):
            yield pd.DataFrame({"set_idx": si, "doc_id": d, "score": s})

    partials = scan_units(
        spark, units, corpus_terms, deleted_dir_paths(cat, reg),
        lambda tbl: decode_unit_postings_stream(tbl, avgdl), score_unit,
        "set_idx int, doc_id long, score double",
    )
    if _partials_only:  # diagnostic: scoring stage without the global merge
        return partials
    w = Window.partitionBy("set_idx").orderBy(F.desc("score"), F.asc("doc_id"))
    # pandas -> Arrow path: a list-of-tuples createDataFrame walks py4j row
    # by row (~0.7 s at 30k queries of driver-serial prep)
    map_df = spark.createDataFrame(
        pd.DataFrame(qmap, columns=["set_idx", "query_id"]).astype(
            {"set_idx": "int32"}
        ),
        schema="set_idx int, query_id string",
    )
    out = (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .join(F.broadcast(map_df), "set_idx")
        .select("query_id", "rank", "doc_id", "score")
    )
    if with_url or fields is not None:
        docmap = cat.read(spark, *reg.get("docmap_dirs", ["docmap"]))
        out = (
            docmap.join(F.broadcast(out), "doc_id")
            .select("query_id", "rank", "doc_id", "url", "score")
        )
    if fields is not None:
        extra = [c for c in fields.columns if c != "url"]
        out = fields.join(F.broadcast(out), "url").select(
            "query_id", "rank", "doc_id", "url", "score", *extra
        )
    return out


def topk_oracle(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    mode: str = spec.MODE_DISJUNCTIVE,
    k: int = spec.TOP_K_DEFAULT,
) -> DataFrame:
    """Oracle path: exhaustive scoring over posting rows recomputed from the
    staged tokens (the posting stream itself is never staged)."""
    from ..operators.index_build import posting_rows_df

    cat = Catalog(index_root)
    stats = cat.read_stats()
    reg = cat.read_registry()
    qmeta, terms = build_qmeta(spark, queries, mode)
    rows = posting_rows_df(
        cat.read(spark, *reg.get("token_dirs", ["tokens"])),
        reg["n_docs"],
        stats["n_shards"],
        stats["n_buckets"],
    ).select("term", "doc_id", "tf", "doc_len")
    from ..operators.deletes import deleted_ids_df

    # idf over the live count: n_live < n_docs only after a tombstone
    # purge, whose tokens are already live-only (df matches n_live)
    return exhaustive_topk(
        rows, qmeta, reg.get("n_live", reg["n_docs"]), reg["avgdl"], k,
        exclude_ids=deleted_ids_df(spark, cat, reg),
    )
