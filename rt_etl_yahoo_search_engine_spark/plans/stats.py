"""Result-set statistics: exact hit counts ("About N results") and facet
counts over the FULL match set — the read-side aggregations every search
UI shows next to the top-k list.

Shapes (both reuse the bm25 scan-side economics — posting payload bytes
never enter an exchange):

  * match_counts — one task per (segment, doc-range shard) decodes the
    query terms' postings ONCE, computes each distinct term set's match
    COUNT inside the task (disjunctive: union size; conjunctive:
    intersection size — numpy over the unit's bounded doc range), and
    emits ONE row per (set, unit).  The only shuffle carries
    O(sets x units) ints.  Exact at any scale; the classic engines
    approximate this number, ours is a real count.

  * match_docs / facet_counts — the full (query_id, doc_id) match relation
    (narrow 2-column rows, O(sum df) — the information-theoretic floor for
    exact facets), joined to a doc-keyed attribute table and grouped.
    At 100 TB the join is the honest cost as long as facet attributes
    live OUTSIDE the index; the upgrade path is an attribute sidecar
    doc-range sharded like the postings (positions.py lifecycle), which
    lets each unit resolve its own range's facet values locally and emit
    pre-aggregated (set, facet, n) rows — same trick as match_counts.
    The semantics are fixed here either way.

Queries with no matching documents produce no output row (relational
absence, not a zero row).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import spec
from ..operators.deletes import deleted_dir_paths
from ..operators.topk import decode_unit_postings_raw, decode_unit_postings_stream
from ..operators.unitscan import scan_units, shard_units
from ..sources.catalog import Catalog
from .bm25 import lexicon_idf


def _plan(spark, index_root, queries, mode):
    """Shared prologue (bm25.topk's distinct-set planning, sans exclusion):
    returns (set_terms, qmap_df, units, corpus_terms, del_paths, idf,
    avgdl) or None if nothing can match."""
    cat = Catalog(index_root)
    reg = cat.read_registry()
    qtoks = {qid: sorted(set(spec.tokenize(t))) for qid, t in queries.items()}
    all_terms = sorted({t for toks in qtoks.values() for t in toks})
    if not any(qtoks.values()):
        return None
    idf = lexicon_idf(cat, reg, all_terms)
    setplan: dict[tuple[str, ...], int] = {}
    qmap: list[tuple[int, str]] = []
    for qid, toks in qtoks.items():
        present = tuple(t for t in toks if t in idf)
        if not present:
            continue
        if mode == spec.MODE_CONJUNCTIVE and len(present) < len(toks):
            continue
        sid = setplan.setdefault(present, len(setplan))
        qmap.append((sid, qid))
    units = shard_units(cat, reg)
    if not setplan or not units:
        return None
    set_terms = [list(t) for t in setplan]
    map_df = spark.createDataFrame(
        pd.DataFrame(qmap, columns=["set_idx", "query_id"]).astype(
            {"set_idx": "int32"}
        ),
        schema="set_idx int, query_id string",
    )
    corpus_terms = sorted({t for terms in setplan for t in terms})
    return (set_terms, map_df, units, corpus_terms,
            deleted_dir_paths(cat, reg), idf, float(reg["avgdl"]))


def _set_doc_ids(tdata, terms, mode, deleted=None):
    """Matching LIVE doc ids of one term set within one unit (numpy);
    tombstoned docs never count ("About N results" is the live number)."""
    arrs = [tdata[t][0] for t in terms if t in tdata]
    if mode == spec.MODE_CONJUNCTIVE:
        if len(arrs) < len(terms):
            return None
        out = arrs[0]
        for a in arrs[1:]:
            out = np.intersect1d(out, a, assume_unique=True)
            if not len(out):
                return None
    else:
        if not arrs:
            return None
        out = np.unique(np.concatenate(arrs)) if len(arrs) > 1 else arrs[0]
    if deleted is not None and len(out):
        out = np.setdiff1d(out, deleted, assume_unique=True)
    return out if len(out) else None


def _term_rows(set_terms, tdata, deleted, col):
    """Per-(set, term) LIVE match rows of one unit: (set_idx, term, doc_id,
    <col>) where <col> is the decoder's second array (score part or
    int64 raw tf)."""
    for si, terms in enumerate(set_terms):
        for t in terms:
            if t not in tdata:
                continue
            ids, vals = tdata[t][0], tdata[t][1]
            if deleted is not None and len(ids):
                keep = ~np.isin(ids, deleted)
                ids, vals = ids[keep], vals[keep]
            if len(ids):
                yield pd.DataFrame(
                    {"set_idx": si, "term": t, "doc_id": ids, col: vals}
                )


def match_counts(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """(query_id, n_hits): exact size of each query's match set."""
    empty = spark.createDataFrame([], "query_id string, n_hits long")
    plan = _plan(spark, index_root, queries, mode)
    if plan is None:
        return empty
    set_terms, map_df, units, corpus_terms, del_paths, _, _ = plan

    def count_unit(tdata, deleted):
        rows = []
        for si, terms in enumerate(set_terms):
            ids = _set_doc_ids(tdata, terms, mode, deleted)
            if ids is not None:
                rows.append((si, len(ids)))
        if rows:
            yield pd.DataFrame(rows, columns=["set_idx", "n"])

    partials = scan_units(
        spark, units, corpus_terms, del_paths, decode_unit_postings_raw,
        count_unit, "set_idx int, n long",
    )
    return (
        partials.groupBy("set_idx")
        .agg(F.sum("n").alias("n_hits"))
        .join(F.broadcast(map_df), "set_idx")
        .select("query_id", "n_hits")
    )


def match_docs(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """(query_id, doc_id): the FULL match relation (module docstring)."""
    empty = spark.createDataFrame([], "query_id string, doc_id long")
    plan = _plan(spark, index_root, queries, mode)
    if plan is None:
        return empty
    set_terms, map_df, units, corpus_terms, del_paths, _, _ = plan

    def pair_unit(tdata, deleted):
        for si, terms in enumerate(set_terms):
            ids = _set_doc_ids(tdata, terms, mode, deleted)
            if ids is not None:
                yield pd.DataFrame({"set_idx": si, "doc_id": ids})

    pairs = scan_units(
        spark, units, corpus_terms, del_paths, decode_unit_postings_raw,
        pair_unit, "set_idx int, doc_id long",
    )
    return pairs.join(F.broadcast(map_df), "set_idx").select("query_id", "doc_id")


def score_docs(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    mode: str = spec.MODE_DISJUNCTIVE,
    with_matched: bool = False,
    tie_breaker: float | None = None,
) -> DataFrame:
    """(query_id, doc_id, score): the FULL match relation WITH exact BM25
    scores — match_docs plus the score column.  The primitive under
    operations whose answer depends on every competitive hit, not just
    the global top-k: field collapsing (best doc per site), exact
    search_after cursors at any depth, score-histogram analytics.

    tie_breaker=None (default) combines per-term weights by SUM (BM25's
    bag-of-words score, BooleanQuery).  A float switches to Lucene's
    DisjunctionMaxQuery combine: best_clause + tie_breaker * sum(other
    clauses) — tie_breaker=0.0 is pure best-clause dis_max, 1.0 is the
    sum again.  The combine happens inside the same per-unit numpy
    kernel (per-term weights are in hand right before aggregation), so
    the scale shape is unchanged.

    Scale shape: identical to match_docs — each (segment, doc-range
    shard) unit decodes the query terms' postings once and emits narrow
    (set, doc_id, score) rows, O(sum df) total, the information floor
    for whole-match-set answers.  Scores are unit-complete (doc-range
    sharding puts all of a doc's postings in one unit), so no downstream
    re-aggregation is needed; the idf-weighted tf parts are the same
    expression the top-k scorer computes (operators.topk), summed per
    doc.  Tombstoned docs are masked unit-locally.

    with_matched=True adds an `n_matched int` column — the number of the
    query's (index-present) terms the doc matches, complete per unit for
    the same doc-range-sharding reason.  It is the primitive under ES
    minimum_should_match (plans/msm.py): the clause-match count rides
    the rows the scorer already emits, no extra scan or shuffle."""
    schema = "query_id string, doc_id long, score double"
    rel_schema = "set_idx int, doc_id long, score double"
    if with_matched:
        schema += ", n_matched int"
        rel_schema += ", n_matched int"
    empty = spark.createDataFrame([], schema)
    plan = _plan(spark, index_root, queries, mode)
    if plan is None:
        return empty
    set_terms, map_df, units, corpus_terms, del_paths, idf, avgdl = plan
    conj = mode == spec.MODE_CONJUNCTIVE

    def score_unit(tdata, deleted):
        for si, terms in enumerate(set_terms):
            present = [t for t in terms if t in tdata]
            if not present or (conj and len(present) < len(terms)):
                continue  # some term absent from this doc range
            ids = np.concatenate([tdata[t][0] for t in present])
            sc = np.concatenate([idf[t] * tdata[t][1] for t in present])
            uniq, inv = np.unique(ids, return_inverse=True)
            sums = np.zeros(len(uniq))
            np.add.at(sums, inv, sc)
            if tie_breaker is not None:
                best = np.full(len(uniq), -np.inf)
                np.maximum.at(best, inv, sc)
                sums = best + tie_breaker * (sums - best)
            cnt = None
            if with_matched or conj:
                cnt = np.zeros(len(uniq), dtype=np.int64)
                np.add.at(cnt, inv, 1)
            if conj:
                keep = cnt == len(terms)
                uniq, sums, cnt = uniq[keep], sums[keep], cnt[keep]
            if deleted is not None and len(uniq):
                keep = ~np.isin(uniq, deleted)
                uniq, sums = uniq[keep], sums[keep]
                if cnt is not None:
                    cnt = cnt[keep]
            if len(uniq):
                cols = {"set_idx": si, "doc_id": uniq, "score": sums}
                if with_matched:
                    cols["n_matched"] = cnt.astype("int32")
                yield pd.DataFrame(cols)

    rel = scan_units(
        spark, units, corpus_terms, del_paths,
        lambda tbl: decode_unit_postings_stream(tbl, avgdl),
        score_unit, rel_schema,
    )
    out_cols = ["query_id", "doc_id", "score"] + (
        ["n_matched"] if with_matched else []
    )
    return rel.join(F.broadcast(map_df), "set_idx").select(*out_cols)


def term_norms(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
) -> DataFrame:
    """(query_id, term, doc_id, tfnorm): the PRE-IDF per-term match
    relation — tfnorm is BM25's tf-normalization part
    tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) with THIS index's avgdl, and no
    idf factor applied.  The primitive under cross-index term-centric
    scoring (plans/multimatch cross_fields), where the idf each term
    weight gets is NOT this index's own (Lucene BlendedTermQuery blends
    document frequencies across fields before weighting).

    Scale shape: same unit scan as score_docs — postings for the query
    terms decoded once per (segment, doc-range shard) unit — but rows
    are emitted per (term, doc) instead of per doc, O(sum df) either
    way (score_docs' per-doc rows are the unique-doc compression of
    these).  Tombstoned docs are masked unit-locally."""
    schema = "query_id string, term string, doc_id long, tfnorm double"
    empty = spark.createDataFrame([], schema)
    plan = _plan(spark, index_root, queries, spec.MODE_DISJUNCTIVE)
    if plan is None:
        return empty
    set_terms, map_df, units, corpus_terms, del_paths, _idf, avgdl = plan
    rel = scan_units(
        spark, units, corpus_terms, del_paths,
        lambda tbl: decode_unit_postings_stream(tbl, avgdl),
        lambda tdata, deleted: _term_rows(set_terms, tdata, deleted, "tfnorm"),
        "set_idx int, term string, doc_id long, tfnorm double",
    )
    return rel.join(F.broadcast(map_df), "set_idx").select(
        "query_id", "term", "doc_id", "tfnorm"
    )


def term_raw(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
) -> DataFrame:
    """(query_id, term, doc_id, tf): the RAW per-term match relation —
    integer term frequencies straight off the pruned block decode, no
    normalization at all.  The primitive under cross-field frequency
    COMBINATION (plans/multimatch combined_fields / BM25F), where tf
    itself is blended across fields before any score expression runs.

    Scale shape: identical to term_norms — same unit scan, same
    O(sum df) narrow rows; tombstones masked unit-locally."""
    schema = "query_id string, term string, doc_id long, tf long"
    empty = spark.createDataFrame([], schema)
    plan = _plan(spark, index_root, queries, spec.MODE_DISJUNCTIVE)
    if plan is None:
        return empty
    set_terms, map_df, units, corpus_terms, del_paths, _idf, _avgdl = plan
    rel = scan_units(
        spark, units, corpus_terms, del_paths, decode_unit_postings_raw,
        lambda tdata, deleted: _term_rows(set_terms, tdata, deleted, "tf"),
        "set_idx int, term string, doc_id long, tf long",
    )
    return rel.join(F.broadcast(map_df), "set_idx").select(
        "query_id", "term", "doc_id", "tf"
    )


def facet_counts(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    facets: DataFrame,
    facet_col: str,
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """(query_id, facet, n_hits): match-set counts grouped by a document
    attribute.  `facets` is a (doc_id, <facet_col>) table (one row per
    doc); see the module docstring for the at-scale join shape."""
    return (
        match_docs(spark, index_root, queries, mode)
        .join(facets.select("doc_id", facet_col), "doc_id")
        .groupBy("query_id", F.col(facet_col).alias("facet"))
        .agg(F.count("*").alias("n_hits"))
    )


def facet_stats(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    value_col: str,
    facet_col: str | None = None,
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Numeric aggregations over the exact match set — Elasticsearch's
    `stats` aggregation (optionally bucketed by a terms facet, the
    stats-inside-terms composition every analytics sidebar uses):
    (query_id[, facet], n, min_v, max_v, sum_v, avg_v) of `value_col`
    across each query's hit docs.

    `attrs` is a doc-keyed (doc_id, <value_col>[, <facet_col>]) table;
    the join/groupBy shape (and its 100 TB story) is exactly
    facet_counts' — narrow match-relation rows joined to the attribute
    table, map-side partial aggregation, nothing corpus-scale after the
    join.  Hit docs with a NULL value count toward n but not the
    numeric aggregates (SQL aggregate semantics, same as ES treating
    missing values as absent)."""
    cols = ["doc_id", value_col] + ([facet_col] if facet_col else [])
    keys = ["query_id"] + ([facet_col] if facet_col else [])
    return (
        match_docs(spark, index_root, queries, mode)
        .join(attrs.select(*cols), "doc_id")
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
            F.sum(value_col).alias("sum_v"),
            F.avg(value_col).alias("avg_v"),
        )
    )


def range_counts(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    value_col: str,
    boundaries: list[float],
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Elasticsearch `range` aggregation over the exact match set:
    (query_id, bucket_idx, bucket, n_hits) — hit counts per half-open
    value bucket.  `boundaries` [b0..bn] define n+1 buckets
    (-inf,b0) [b0,b1) ... [bn,inf), ES's `from` inclusive / `to`
    exclusive convention; `bucket` carries the ES-style key
    "*-b0", "b0-b1", ..., "bn-*".  Hit docs missing from `attrs` or
    with a NULL value are dropped (ES's `missing`-less default).
    Empty buckets produce no row (relational absence, module
    docstring) — ES emits zero-count buckets; callers wanting that
    shape outer-join against the static bucket list.

    Scale shape: facet_counts' — the narrow match relation joined once
    to the doc-keyed attribute table; the bucket index is a pure
    codegen expression (sum of boundary indicators), then a map-side
    partial count per (query, bucket)."""
    v = F.col(value_col)
    idx = F.lit(0)
    for bnd in boundaries:
        idx = idx + (v >= F.lit(float(bnd))).cast("int")
    labels = (
        ["*-" + str(float(boundaries[0]))]
        + [
            f"{float(a)}-{float(b)}"
            for a, b in zip(boundaries, boundaries[1:])
        ]
        + [str(float(boundaries[-1])) + "-*"]
    )
    label = F.element_at(
        F.array(*[F.lit(s) for s in labels]), idx + F.lit(1)
    )
    return (
        match_docs(spark, index_root, queries, mode)
        .join(attrs.select("doc_id", value_col).dropna(), "doc_id")
        .select("query_id", idx.alias("bucket_idx"), label.alias("bucket"))
        .groupBy("query_id", "bucket_idx", "bucket")
        .agg(F.count("*").alias("n_hits"))
    )


def histogram_counts(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    value_col: str,
    interval: float,
    offset: float = 0.0,
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Elasticsearch `histogram` aggregation over the exact match set:
    (query_id, bucket_key, n_hits) — hit counts per fixed-width value
    bucket, bucket_key = floor((v - offset) / interval) * interval +
    offset (ES's key formula, correct for negatives via floor).  Empty
    buckets produce no row (ES min_doc_count=1 shape).  Same one-join
    scale shape as range_counts; the key is pure codegen."""
    v = F.col(value_col).cast("double")
    key = (
        F.floor((v - F.lit(float(offset))) / F.lit(float(interval)))
        * F.lit(float(interval))
        + F.lit(float(offset))
    )
    return (
        match_docs(spark, index_root, queries, mode)
        .join(attrs.select("doc_id", value_col).dropna(), "doc_id")
        .select("query_id", key.alias("bucket_key"))
        .groupBy("query_id", "bucket_key")
        .agg(F.count("*").alias("n_hits"))
    )


def cardinality_agg(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    value_col: str,
    exact: bool = True,
    rsd: float = 0.05,
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Elasticsearch `cardinality` aggregation over the exact match set:
    (query_id, cardinality) — number of distinct `value_col` values
    among each query's hit docs.  exact=True (default) is a real
    COUNT(DISTINCT) — a partial-aggregated two-stage shuffle of
    result-scale rows; ES itself only offers the HyperLogLog++
    estimate, which exact=False mirrors via approx_count_distinct(rsd)
    (bounded memory, one pass — the knob to flip first at 100 TB if
    the distinct set per query explodes).  NULLs don't count (SQL and
    ES agree)."""
    f = (
        F.countDistinct(value_col)
        if exact
        else F.approx_count_distinct(value_col, rsd)
    )
    return (
        match_docs(spark, index_root, queries, mode)
        .join(attrs.select("doc_id", value_col).dropna(), "doc_id")
        .groupBy("query_id")
        .agg(f.alias("cardinality"))
    )


def percentiles_agg(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    value_col: str,
    percentiles: list[float] = (0.25, 0.5, 0.75, 0.95),
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Elasticsearch `percentiles` aggregation over the exact match set:
    (query_id, p25, p50, ...) — linear-interpolated (continuous)
    percentiles of `value_col` across each query's hit docs, EXACT
    (Spark's `percentile`, same definition as SQL percentile_cont /
    DuckDB quantile_cont), where ES ships a t-digest approximation.
    Column names: p{100*q:g} with dots swapped for '_' (p25, p50,
    p99_9).  NULL values are ignored (SQL aggregate semantics).

    Scale shape: the one honest caveat vs the rest of this module —
    exact percentiles need the value multiset per group, so Spark
    collects each (query)'s values on one reducer (ObjectHashAggregate
    over result-scale rows, NOT corpus-scale: O(sum df) values at
    worst, per-query at that).  At 100 TB with huge match sets, swap
    in approx_percentile(err) — same call shape, bounded memory — the
    ES-parity t-digest; exactness here is a strictly stronger
    contract offered while it is affordable."""

    def _name(q: float) -> str:
        return "p" + f"{100 * q:g}".replace(".", "_")

    aggs = [
        F.percentile(F.col(value_col), F.lit(float(q))).alias(_name(q))
        for q in percentiles
    ]
    return (
        match_docs(spark, index_root, queries, mode)
        .join(attrs.select("doc_id", value_col).dropna(), "doc_id")
        .groupBy("query_id")
        .agg(*aggs)
    )


def composite_agg(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    sources: list[tuple],
    size: int = 10,
    after: tuple | None = None,
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Elasticsearch `composite` aggregation over the exact match set —
    THE pagination primitive for aggregations at scale: buckets over a
    multi-source key grid, streamed in key order `size` at a time, with
    an `after` cursor instead of a deepening offset.

    `sources` is ES's source list: ("terms", col) buckets on the raw
    value, ("histogram", col, interval) on floor(v/interval)*interval
    (keys named after the column either way).  Returns (query_id,
    <key cols...>, doc_count) — the first `size` buckets per query whose
    key tuple sorts strictly AFTER the `after` cursor (None = from the
    start), in ascending lexicographic key order (ES's default asc
    composite order).  Hit docs with a NULL in any source column are
    dropped (ES default, no `missing_bucket`).

    Why this is the 100 TB agg: a terms agg with a million buckets can't
    ship every bucket to one caller, and from/size pagination recomputes
    and re-sorts ever-deeper prefixes.  Composite's after-cursor makes
    each page incremental: the `(keys) > (after)` predicate is applied
    BEFORE the per-query rank — pushed to the map side of the bucket
    aggregation — so page N+1 aggregates only keys beyond the cursor,
    not the whole grid again.  Spark shape: one join of the narrow match
    relation to the doc-keyed attrs, map-side partial count per (query,
    keys) — corpus-scale work ends there; the ascending-rank window runs
    over already-aggregated bucket rows.  The struct(...) tuple compare
    is Spark's native row-value ordering, identical to SQL's."""
    key_cols, key_names = [], []
    for s in sources:
        kind, col = s[0], s[1]
        v = F.col(col)
        if kind == "histogram":
            interval = float(s[2])
            v = (
                F.floor(v.cast("double") / F.lit(interval)) * F.lit(interval)
            )
        elif kind != "terms":
            raise ValueError(f"unknown composite source kind: {kind!r}")
        key_cols.append(v.alias(col))
        key_names.append(col)
    from pyspark.sql import Window

    src_cols = ["doc_id"] + sorted({s[1] for s in sources})
    buckets = (
        match_docs(spark, index_root, queries, mode)
        .join(attrs.select(*src_cols).dropna(), "doc_id")
        .select("query_id", *key_cols)
        .groupBy("query_id", *key_names)
        .agg(F.count("*").alias("doc_count"))
    )
    if after is not None:
        if len(after) != len(key_names):
            raise ValueError("after cursor arity != number of sources")
        buckets = buckets.filter(
            F.struct(*[F.col(c) for c in key_names])
            > F.struct(*[F.lit(a) for a in after])
        )
    w = Window.partitionBy("query_id").orderBy(
        *[F.asc(c) for c in key_names]
    )
    return (
        buckets.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(size))
        .drop("_rn")
    )


def histogram_pipeline(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    value_col: str,
    interval: float,
    offset: float = 0.0,
    mode: str = spec.MODE_DISJUNCTIVE,
    moving_window: int | None = None,
) -> DataFrame:
    """Elasticsearch PIPELINE aggregations (`cumulative_sum` and
    `derivative`) riding a histogram: (query_id, bucket_key, n_hits,
    cum_hits, deriv) — per query in ascending bucket order, cum_hits is
    the running total of n_hits and deriv is n_hits minus the PREVIOUS
    PRESENT bucket's n_hits (null for each query's first bucket, ES's
    derivative-of-the-first-bucket behaviour).  Buckets with no hits
    are absent here (module convention), so deriv differences skip
    gaps — ES's gap_policy=skip shape on a min_doc_count=1 histogram;
    callers needing zero-filled buckets outer-join the key grid first.

    moving_window=w adds `moving_avg` — ES `moving_fn` (unshifted): the
    mean of the PREVIOUS w present buckets' n_hits, current excluded,
    null on each query's first bucket (empty window).

    Scale shape: pipeline aggs are POST-aggregation arithmetic — the
    corpus-scale work is histogram_counts' single join + partial count;
    the window here orders each query's bucket rows (result-scale,
    thousands at most), exactly how ES computes them on the reduced
    bucket list coordinator-side."""
    from pyspark.sql import Window

    h = histogram_counts(
        spark, index_root, queries, attrs, value_col, interval, offset, mode
    )
    w = Window.partitionBy("query_id").orderBy("bucket_key")
    cols = [
        F.sum("n_hits")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_hits"),
        (F.col("n_hits") - F.lag("n_hits").over(w)).alias("deriv"),
    ]
    if moving_window is not None:
        cols.append(
            F.avg("n_hits")
            .over(w.rowsBetween(-int(moving_window), -1))
            .alias("moving_avg")
        )
    return h.select("query_id", "bucket_key", "n_hits", *cols)


def weighted_avg_agg(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    value_col: str,
    weight_col: str,
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Elasticsearch `weighted_avg` aggregation over the exact match
    set: (query_id, weighted_avg) = sum(value*weight)/sum(weight)
    across each query's hit docs; rows with a NULL value or weight are
    dropped (ES's missing-less default).  Same one-join facet_counts
    scale shape; the ratio is computed from two partial-aggregated sums,
    never a second pass."""
    return (
        match_docs(spark, index_root, queries, mode)
        .join(attrs.select("doc_id", value_col, weight_col).dropna(), "doc_id")
        .groupBy("query_id")
        .agg(
            (
                F.sum(F.col(value_col) * F.col(weight_col))
                / F.sum(weight_col)
            ).alias("weighted_avg")
        )
    )


def adjacency_matrix(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Elasticsearch `adjacency_matrix` aggregation: treat each query as
    a named filter and count every pairwise intersection of their match
    sets — (filter_a, filter_b, doc_count) with filter_a <= filter_b;
    the diagonal (a == b) is each filter's own match count, ES's
    singleton buckets.  Empty intersections produce no row (ES emits
    only non-empty buckets too).

    Scale shape: ONE pass, NO self-join — a self-join on doc_id would
    scan and shuffle the match relation twice; instead one groupBy
    collects each doc's (tiny, <= |filters|, ES hard-caps ~100) sorted
    filter list, a codegen `transform`/`slice` expression explodes the
    ordered pairs doc-locally, and a map-side partial count reduces per
    pair.  The only shuffle of result-scale rows is the doc grouping;
    the pair fan-out never touches an exchange."""
    m = match_docs(spark, index_root, queries, mode)
    per_doc = m.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("query_id")).alias("fs")
    )
    pairs = per_doc.select(
        F.explode(
            F.expr(
                "flatten(transform(fs, (a, i) -> "
                "transform(slice(fs, i + 1, size(fs) - i), "
                "b -> struct(a AS filter_a, b AS filter_b))))"
            )
        ).alias("p")
    )
    return (
        pairs.select("p.filter_a", "p.filter_b")
        .groupBy("filter_a", "filter_b")
        .agg(F.count("*").alias("doc_count"))
    )


def multi_terms_agg(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    facet_cols: list[str],
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Elasticsearch `multi_terms` aggregation: buckets keyed by a TUPLE
    of document attributes — (query_id, <facet_cols...>, key, n_hits),
    `key` the ES-style '|'-joined compound key.  Same single-join
    facet_counts scale shape: the compound key adds no extra exchange,
    it just widens the groupBy key."""
    fcols = [F.col(c) for c in facet_cols]
    return (
        match_docs(spark, index_root, queries, mode)
        .join(attrs.select("doc_id", *facet_cols), "doc_id")
        .groupBy("query_id", *fcols)
        .agg(F.count("*").alias("n_hits"))
        .withColumn(
            "key", F.concat_ws("|", *[F.col(c).cast("string") for c in facet_cols])
        )
    )


def rare_terms_agg(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    facet_col: str,
    max_doc_count: int = 1,
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Elasticsearch `rare_terms` aggregation: the long-tail complement
    of `terms` — only buckets whose hit count is <= ``max_doc_count``
    survive: (query_id, facet, n_hits).  ES approximates this with a
    CuckooFilter to avoid shipping every unique term to the coordinator;
    relationally the exact answer is a post-aggregation filter on the
    partial-combined counts, which is already coordinator-free in Spark
    — the HAVING runs distributed on the reduced bucket rows, so the
    exact form scales where ES had to approximate."""
    return (
        facet_counts(spark, index_root, queries, attrs, facet_col, mode)
        .filter(F.col("n_hits") <= max_doc_count)
    )


def filters_agg(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    filters: dict[str, str],
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Elasticsearch `filters` aggregation: NAMED predicate buckets over
    the match set — (query_id, bucket, n_hits), one row per named filter
    whose predicate (a boolean SQL expression over `attrs` columns)
    matched >= 1 hit doc.  A doc can land in several buckets (ES filters
    buckets are not disjoint).

    Scale shape: ONE join + ONE aggregation pass — every named filter
    becomes a conditional-count column (codegen CASE, map-side partial),
    and the per-bucket rows are unpivoted AFTER reduction via a stack()
    over result-scale rows; the corpus is never scanned per filter."""
    names = sorted(filters)
    joined = match_docs(spark, index_root, queries, mode).join(
        attrs, "doc_id"
    )
    counts = joined.groupBy("query_id").agg(
        *[
            F.sum(F.when(F.expr(filters[n]), 1).otherwise(0))
            .cast("long")
            .alias(f"c_{i}")
            for i, n in enumerate(names)
        ]
    )
    stack = ", ".join(f"'{n}', c_{i}" for i, n in enumerate(names))
    return (
        counts.select(
            "query_id",
            F.expr(
                f"stack({len(names)}, {stack}) AS (bucket, n_hits)"
            ),
        )
        .filter(F.col("n_hits") > 0)
    )


def terms_pipeline(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    facet_col: str,
    value_col: str,
    having: str,
    k: int,
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Elasticsearch `bucket_selector` + `bucket_sort` pipeline riding a
    terms aggregation: per query, terms buckets of ``facet_col`` with
    (n_hits, avg_v of ``value_col``), buckets failing the ``having``
    boolean expression dropped (bucket_selector), survivors ranked by
    avg_v desc / facet asc and truncated to the top ``k`` (bucket_sort's
    sort+size): (query_id, bucket_rank, facet, n_hits, avg_v).

    Scale shape: the selector/sort are post-aggregation arithmetic on
    result-scale bucket rows (exactly where ES runs them, on the reduced
    response) — corpus-scale work is the one facet_stats join+agg."""
    from pyspark.sql import Window

    b = facet_stats(
        spark, index_root, queries, attrs, value_col, facet_col, mode
    ).select(
        "query_id", F.col(facet_col).alias("facet"), "n", "avg_v"
    )
    kept = b.filter(F.expr(having))
    w = Window.partitionBy("query_id").orderBy(
        F.col("avg_v").desc(), F.col("facet").asc()
    )
    return (
        kept.withColumn("bucket_rank", F.row_number().over(w))
        .filter(F.col("bucket_rank") <= k)
        .select(
            "query_id",
            "bucket_rank",
            "facet",
            F.col("n").alias("n_hits"),
            "avg_v",
        )
    )


def sibling_pipeline(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    value_col: str,
    interval: float,
    offset: float = 0.0,
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Elasticsearch SIBLING pipeline aggregations (`avg_bucket` /
    `min_bucket` / `max_bucket` / `sum_bucket` / `stats_bucket`): one row
    per query summarizing its histogram's bucket n_hits — (query_id,
    n_buckets, min_hits, max_hits, sum_hits, avg_hits).

    Scale shape: like every pipeline agg, this is post-aggregation
    arithmetic — one more reduction over the already-reduced bucket rows
    (result-scale), exactly where ES's coordinator computes siblings.
    The corpus-scale work remains histogram_counts' single join+count."""
    h = histogram_counts(
        spark, index_root, queries, attrs, value_col, interval, offset, mode
    )
    return h.groupBy("query_id").agg(
        F.count("*").alias("n_buckets"),
        F.min("n_hits").alias("min_hits"),
        F.max("n_hits").alias("max_hits"),
        F.sum("n_hits").alias("sum_hits"),
        F.avg("n_hits").alias("avg_hits"),
    )


def bucket_script_pipeline(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    value_col: str,
    interval: float,
    script: str,
    lag_n: int = 1,
    offset: float = 0.0,
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Elasticsearch `bucket_script` + `serial_diff` pipeline aggs riding
    a value histogram that carries per-bucket METRICS, not just counts:
    per (query, bucket) the hit count `n_hits` and `sum_v` of
    ``value_col``, plus

      * script_v    — ``script``, a SQL expression over the bucket's
                      metric columns (n_hits, sum_v) evaluated per bucket
                      (ES bucket_script's painless params, relationally);
      * serial_diff — n_hits minus the n_hits of the bucket ``lag_n``
                      PRESENT buckets earlier in key order (ES
                      `serial_diff` with gap_policy=skip; null while the
                      lag window is incomplete).

    Scale shape: the bucketed metrics are ONE facet_stats join+agg (the
    bucket key is a derived column of the attribute row — no extra
    exchange); script/serial_diff are result-scale window arithmetic."""
    from pyspark.sql import Window

    bucketed = attrs.select(
        "doc_id",
        (
            F.floor((F.col(value_col) - F.lit(offset)) / F.lit(interval))
            * F.lit(interval)
            + F.lit(offset)
        ).alias("bucket_key"),
        F.col(value_col).alias("_v"),
    )
    b = facet_stats(
        spark, index_root, queries, bucketed, "_v", "bucket_key", mode
    ).select(
        "query_id",
        "bucket_key",
        F.col("n").alias("n_hits"),
        F.col("sum_v"),
    )
    w = Window.partitionBy("query_id").orderBy("bucket_key")
    return b.select(
        "query_id",
        "bucket_key",
        "n_hits",
        "sum_v",
        F.expr(script).alias("script_v"),
        (F.col("n_hits") - F.lag("n_hits", lag_n).over(w)).alias(
            "serial_diff"
        ),
    )


def percentile_ranks_agg(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    value_col: str,
    values: list[float],
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Elasticsearch `percentile_ranks` aggregation — the inverse of
    `percentiles`: for each probe value v, the percentage of the query's
    hit docs whose ``value_col`` is <= v — (query_id, value, pct_rank).
    EXACT (the empirical CDF at v, times 100) where ES interpolates a
    t-digest; docs with a NULL value are excluded (SQL semantics).

    Scale shape: like filters_agg, every probe value becomes one
    conditional-count column in a single join+agg pass (map-side
    partial), unpivoted after reduction — result-scale rows only."""
    vals = [float(v) for v in values]
    j = match_docs(spark, index_root, queries, mode).join(
        attrs.select("doc_id", value_col).dropna(), "doc_id"
    )
    counts = j.groupBy("query_id").agg(
        F.count("*").alias("_n"),
        *[
            F.sum(F.when(F.col(value_col) <= v, 1).otherwise(0)).alias(
                f"c_{i}"
            )
            for i, v in enumerate(vals)
        ],
    )
    # 100D not 100.0: a bare decimal literal would make the whole
    # expression DECIMAL, and the oracle compares DOUBLE.
    stack = ", ".join(
        f"CAST({v} AS DOUBLE), 100D * c_{i} / _n" for i, v in enumerate(vals)
    )
    return counts.select(
        "query_id",
        F.expr(f"stack({len(vals)}, {stack}) AS (value, pct_rank)"),
    )


def string_stats_agg(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    str_col: str,
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Elasticsearch `string_stats` aggregation over the exact match set:
    (query_id, n, min_len, max_len, avg_len, entropy) of a keyword field
    — entropy is the Shannon entropy (bits) of the CHARACTER distribution
    across all of the bucket's values, ES's definition.

    Scale shape: lengths reduce in the one join+agg pass; the character
    distribution explodes hit rows by string length — bounded by total
    field bytes in the match set (keyword fields are short), partial
    count per (query, char), then a result-scale entropy fold.  Nothing
    corpus-scale moves beyond the match relation itself."""
    from pyspark.sql import Window

    j = match_docs(spark, index_root, queries, mode).join(
        attrs.select("doc_id", str_col).dropna(), "doc_id"
    )
    base = j.groupBy("query_id").agg(
        F.count("*").alias("n"),
        F.min(F.length(str_col)).alias("min_len"),
        F.max(F.length(str_col)).alias("max_len"),
        F.avg(F.length(str_col)).alias("avg_len"),
    )
    chars = (
        j.select(
            "query_id",
            F.explode(F.split(F.col(str_col), "")).alias("ch"),
        )
        .filter(F.col("ch") != "")
        .groupBy("query_id", "ch")
        .agg(F.count("*").alias("cnt"))
    )
    ent = (
        chars.withColumn(
            "tot", F.sum("cnt").over(Window.partitionBy("query_id"))
        )
        .withColumn(
            "term",
            -(F.col("cnt") / F.col("tot"))
            * F.log2(F.col("cnt") / F.col("tot")),
        )
        .groupBy("query_id")
        .agg(F.sum("term").alias("entropy"))
    )
    return base.join(ent, "query_id")


def sampler_agg(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    facet_col: str,
    shard_size: int,
    dedup_col: str | None = None,
    max_docs_per_value: int = 1,
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Elasticsearch `sampler` / `diversified_sampler` aggregation:
    restrict a sub-aggregation's scope to the ``shard_size``
    BEST-SCORING hits, then bucket those by ``facet_col`` —
    (query_id, facet, n_hits).  With ``dedup_col`` set, at most
    ``max_docs_per_value`` docs per distinct dedup value survive BEFORE
    the size cut (the diversified form — de-biasing a sample dominated
    by one source).  Selection order is (score desc, doc_id asc), the
    engine's global rank order, so the sample is deterministic.

    ES samples per SHARD (shard_size each, approximate); over the exact
    scored relation we take the strictly stronger GLOBAL top-N.  Scale
    shape: score_docs' narrow (query, doc, score) rows, one window per
    query (two when diversified) on result-scale rows, one attribute
    join.  At 100 TB the documented upgrade is unit-local pre-top-N
    inside the scoring kernel (each doc-range unit already holds its
    docs' complete scores), which reproduces ES's per-shard semantics
    exactly while bounding the window input."""
    from pyspark.sql import Window

    s = score_docs(spark, index_root, queries, mode)
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    cols = ["doc_id", facet_col] + ([dedup_col] if dedup_col else [])
    j = s.join(attrs.select(*dict.fromkeys(cols)), "doc_id")
    if dedup_col is not None:
        wd = Window.partitionBy("query_id", dedup_col).orderBy(*order)
        j = (
            j.withColumn("_dn", F.row_number().over(wd))
            .filter(F.col("_dn") <= max_docs_per_value)
            .drop("_dn")
        )
    wq = Window.partitionBy("query_id").orderBy(*order)
    return (
        j.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= shard_size)
        .groupBy("query_id", F.col(facet_col).alias("facet"))
        .agg(F.count("*").alias("n_hits"))
    )


def boxplot_agg(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, str],
    attrs: DataFrame,
    value_col: str,
    mode: str = spec.MODE_DISJUNCTIVE,
) -> DataFrame:
    """Elasticsearch `boxplot` aggregation over the exact match set:
    (query_id, min, max, q1, q2, q3, lower, upper) — EXACT
    linear-interpolated quartiles (same definition as percentiles_agg;
    ES ships a t-digest approximation) plus the Tukey whiskers ES
    reports: lower = the smallest value >= q1 - 1.5*IQR, upper = the
    largest value <= q3 + 1.5*IQR — whiskers are ACTUAL data points
    inside the fences (equal to min/max when no outliers exist).  NULL
    values are excluded (SQL aggregate semantics).

    Scale shape: two result-scale passes over the joined hit set — one
    for extrema+quartiles (value multiset per group, the percentiles_agg
    caveat applies), one conditional-extrema pass with the per-query
    quartile row broadcast back.  The match set is recomputed for the
    second pass; at 100 TB persist the join output (result-scale, O(sum
    df) rows at worst) between the passes."""
    j = match_docs(spark, index_root, queries, mode).join(
        attrs.select("doc_id", value_col).dropna(), "doc_id"
    )
    v = F.col(value_col)
    q = j.groupBy("query_id").agg(
        F.min(v).cast("double").alias("vmin"),
        F.max(v).cast("double").alias("vmax"),
        F.percentile(v, F.lit(0.25)).alias("q1"),
        F.percentile(v, F.lit(0.5)).alias("q2"),
        F.percentile(v, F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    fenced = (
        j.join(F.broadcast(q), "query_id")
        .groupBy("query_id")
        .agg(
            F.min(F.when(v >= F.col("q1") - 1.5 * iqr, v))
            .cast("double")
            .alias("lower"),
            F.max(F.when(v <= F.col("q3") + 1.5 * iqr, v))
            .cast("double")
            .alias("upper"),
        )
    )
    return q.join(fenced, "query_id").select(
        "query_id",
        F.col("vmin").alias("min"),
        F.col("vmax").alias("max"),
        "q1",
        "q2",
        "q3",
        "lower",
        "upper",
    )


def bucket_sort(
    buckets: DataFrame,
    sort_cols: list,
    from_: int = 0,
    size: int | None = None,
    group_col: str = "query_id",
) -> DataFrame:
    """ES `bucket_sort` pipeline aggregation: reorder each group's
    bucket list by `sort_cols` (pyspark Columns, e.g.
    [F.desc("sum_value"), F.asc("bucket_key")]) and truncate to
    buckets [from_, from_+size) — ES's from/size semantics (size=None
    keeps the tail).

    Scale shape: pipeline aggs are POST-aggregation arithmetic on the
    reduced bucket relation (result-scale rows, thousands at most) —
    the window is per-group, exactly how ES runs bucket_sort on the
    coordinator's reduced bucket list."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(*sort_cols)
    out = (
        buckets.withColumn("_bs_pos", F.row_number().over(w))
        .filter(F.col("_bs_pos") > from_)
    )
    if size is not None:
        out = out.filter(F.col("_bs_pos") <= from_ + size)
    return out.withColumn(
        "position", (F.col("_bs_pos") - from_).cast("int")
    ).drop("_bs_pos")
