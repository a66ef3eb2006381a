"""Inverted-index build pipeline (batch, resumable, skew-aware).

Dataflow (SURVEY.md §3.4), all stages declarative DataFrame ops except the
two Arrow-batched Python stages (extraction+tokenization, block encoding):

  pages (url, warc_ts, html, text, lang)          [input table, input_hint]
    -> filter lang='en' AND html IS NOT NULL       [pushed to parquet scan]
    -> docmap: deterministic dense doc_id by url sort (range-partitioned
       counts + per-partition row_number — a two-pass narrow op, no global
       sort, scales to any partition count); built FIRST so every later
       stage ships the 8-byte doc_id, never the url string
    -> attach doc_id to pages: url_ordered tables derive it arithmetically
       on the scan (zero movement, any size — _ordered_doc_id); general
       tables join the docmap (broadcast when it fits, one shuffle join on
       url at 10^12 docs)
    -> mapInPandas extract+tokenize+local-tf-agg -> tokens(doc_id, term,
       tf, doc_len)
       (ONE fused Python pass; map-side partial aggregation: tf is counted
        per document inside the Arrow batch, so the staged/shuffled payload
        is narrow posting rows — never raw html/text, never url.  This is
        the reference's claim-check rule re-expressed: ship metadata, not
        payload; ref: src/yahoo_search_process.py:30-33.  doc_len rides on
        every row + a per-doc sentinel, so no doc-length shuffle exists)
    -> posting rows: a derived VIEW (no staging — materializing the
       largest intermediate measured slower than the whole rest)
    -> doc-range sharding: shard = doc_id * n_shards // n_docs.
       EVERY term is split across the same contiguous doc_id ranges, which
       (a) distributes head-term (stop-word) posting lists across the
           cluster — explicit skew handling per north_rule: the hottest
           term's reducer work is bounded by df/n_shards, no single task
           ever owns a full stop-word list;
       (b) preserves global doc_id order across shards (ranges are
           contiguous and disjoint), so per-shard blocks concatenate into a
           valid ordered posting list; and
       (c) makes query-time top-k embarrassingly parallel per shard —
           each shard holds COMPLETE postings of every term for its doc
           range (a document-sharded index, the classic distributed-search
           layout), so each shard is scored on its own and only k rows
           per (query, shard) ever reach the merge.
    -> groupBy(term, shard).applyInPandas block encoder:
       sort by doc_id, cut into BLOCK_SIZE blocks, delta-gap + varbyte
       doc_ids / tfs / doc_lens, per-block first/last/max_tf and the exact
       idf-free max score part (max over docs of tf*(k1+1)/(tf+k1*(1-b+
       b*dl/avgdl))).  idf * block_max_part is an exact float upper bound
       of any contained doc's term score, kept in the format for a pruning
       scorer; the query side scores exhaustively and never reads it.
    -> write postings partitioned by DOC-RANGE SHARD (document-partitioned
       layout: shard=S dirs), rows sorted by term within each shard's files
       (row-group pruning for query terms).  The query path scores each
       shard scan-side — posting payload bytes NEVER enter a shuffle
       (plans/bm25.topk); term-hash buckets remain the resume/lineage unit.

Resumability (north_rule): every stage and every bucket-batch commits an
append-only manifest row through sources.catalog.Catalog; a rerun skips
partitions whose LATEST manifest row is COMPLETED — the reference's
point-in-time jobs-ledger recovery pattern
(ref: database/tables.py:93-107, src/services/daos/status_dao.py:36-50).
"""

from __future__ import annotations

import contextlib
import os
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import spec
from ..functions.extract import _decode, document_text
from ..sources.catalog import Catalog
from .codec import encode_varbyte

TOKENS_SCHEMA = "doc_id long, term string, tf int, doc_len int"

# docmap sides at or below this row count are broadcast for the url->doc_id
# join in the GENERAL (non-url_ordered) tokens path; above it the join is a
# shuffle.  url_ordered builds and extensions never join at all — they
# derive doc_id arithmetically on the scan (_ordered_doc_id), so they have
# no broadcast-size ceiling.
BROADCAST_DOCMAP_MAX = 20_000_000
BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("doc_count", T.IntegerType(), False),
        T.StructField("first_doc_id", T.LongType(), False),
        T.StructField("last_doc_id", T.LongType(), False),
        T.StructField("max_tf", T.IntegerType(), False),
        T.StructField("tf_sum", T.LongType(), False),  # lexicon cf without a tokens rescan
        T.StructField("block_max_part", T.DoubleType(), False),  # idf-free
        T.StructField("doc_ids_vb", T.BinaryType(), False),
        T.StructField("tfs_vb", T.BinaryType(), False),
        T.StructField("doc_lens_vb", T.BinaryType(), False),
    ]
)


# --- stage 1: fused extract + tokenize + per-doc tf (Arrow batches) ----------


def tokenize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """pages(doc_id, html) -> (doc_id, term, tf, doc_len).

    Map-side partial agg per doc; doc_len rides along on every posting row
    (it is known the moment the doc is tokenized), so NO doc-length
    groupBy/join shuffle ever happens downstream.  One sentinel row per doc
    (term NULL, tf 0) carries doc_len for the corpus stats — including
    0-token docs.

    Claim-check discipline: the 8-byte doc_id is attached BEFORE extraction
    (an n_docs-scale join), so the ~40-byte url never rides on the
    n_postings-scale token stream — measured 3x CPU per doc through
    Arrow/parquet when it did."""
    for pdf in batches:
        ids: list[int] = []
        terms: list[str | None] = []
        tf_chunks: list[list[int]] = []
        widths: list[int] = []
        dls: list[int] = []
        for doc_id, html in zip(pdf["doc_id"], pdf["html"]):
            if html is None:
                continue
            text = document_text(_decode(html))
            counts: dict[str, int] = {}
            n = 0
            for tok in spec.tokenize(text):
                counts[tok] = counts.get(tok, 0) + 1
                n += 1
            ids.append(doc_id)
            terms.extend(counts.keys())
            terms.append(None)  # sentinel: doc exists, carries doc_len
            tf_chunks.append(list(counts.values()))
            widths.append(len(counts) + 1)
            dls.append(n)
        n_rows = int(sum(widths))
        tfs = np.zeros(n_rows, dtype=np.int32)
        pos = 0
        for chunk in tf_chunks:
            tfs[pos : pos + len(chunk)] = chunk
            pos += len(chunk) + 1  # sentinel tf stays 0
        yield pd.DataFrame(
            {
                "doc_id": np.repeat(np.asarray(ids, dtype=np.int64), widths)
                if ids
                else np.empty(0, dtype=np.int64),
                "term": terms,
                "tf": tfs,
                "doc_len": np.repeat(np.asarray(dls, dtype=np.int32), widths)
                if ids
                else np.empty(0, dtype=np.int32),
            }
        )


def filtered_pages(pages: DataFrame, tokenizer: str) -> DataFrame:
    """The indexed slice: lang='en' with a non-null payload column."""
    payload = "html" if tokenizer == "html" else "text"
    return pages.filter((F.col("lang") == "en") & F.col(payload).isNotNull())


def tokens_from_pages(pages_with_id: DataFrame) -> DataFrame:
    """pages already filtered and carrying doc_id (see build_index)."""
    return pages_with_id.select("doc_id", "html").mapInPandas(
        tokenize_batch, schema=TOKENS_SCHEMA
    )


def tokens_from_text(pages_with_id: DataFrame) -> DataFrame:
    """Alternative JVM-only tokenizer for tables that already carry extracted
    text (e.g. the driver's `documents` table): no Python at all — tokenize
    with built-in regexp_extract_all + explode, whole-stage codegen'd.
    Same output contract as tokenize_batch (tf rows + one sentinel row per
    doc carrying doc_len).

    SINGLE-PASS by construction: tf rows and sentinels come from one scan
    via grouping sets ((doc_id, doc_len, term), (doc_id, doc_len)), never a
    tf ∪ sentinels self-union.  A union would consume the upstream subtree
    twice — tokenizing the corpus twice, and, worse, re-evaluating upstream
    doc_ids that the url_ordered path derives from spark_partition_id()
    (_ordered_doc_id) in two different codegen pipelines, which breaks the
    per-partition drift Observation riding that scan.  explode_outer keeps
    zero-token docs, so they still emit a sentinel (doc_len 0).

    The aggregate hash-exchanges its rows, so the output is NOT
    doc-contiguous per partition: url_ordered text builds keep the
    exchange-free docmap and doc_id derivation but encode through the
    general (term, shard) exchange (build_index, extend_index)."""
    ex = pages_with_id.select(
        "doc_id",
        F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").alias("doc_len"),
        F.explode_outer("toks").alias("tok"),
    )
    agg = ex.groupingSets(
        [["doc_id", "doc_len", "tok"], ["doc_id", "doc_len"]],
        "doc_id", "doc_len", "tok",
    ).agg(
        F.count("tok").alias("cnt"),
        F.grouping("tok").alias("g"),
    )
    # g=0 detail rows with a real token are the tf rows (a null tok at the
    # detail level is a zero-token doc — dropped); g=1 rows are sentinels.
    return agg.where((F.col("g") == 1) | F.col("tok").isNotNull()).select(
        "doc_id",
        F.when(F.col("g") == 0, F.col("tok")).alias("term"),
        F.when(F.col("g") == 0, F.col("cnt")).otherwise(F.lit(0))
        .cast("int").alias("tf"),
        "doc_len",
    )


@contextlib.contextmanager
def contiguous_splits(spark):
    """Disable small-file bin packing for scans executed inside this context.

    The url_ordered fast path relies on every scan partition covering ONE
    contiguous doc_id range.  Splits of a single file are contiguous row
    runs, but Spark's file packing then bins multiple SMALL files into one
    partition in size order, not range order — a partition holding files
    {A, C} (with B elsewhere) sorts to one doc run spanning A..C, and the
    128-doc blocks cut from it overlap the partition holding B.  (Latent at
    larger file sizes, deterministic at small ones; caught by the query-side
    decode's block-overlap check.)  Raising openCostInBytes above
    maxPartitionBytes makes every file chunk its own partition: large files
    still split into contiguous chunks, small files just stop being packed
    together.  Cost: at most one task per input file — irrelevant for the
    16 MB+ files any real table has.
    """
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(1 << 30))
    try:
        yield
    finally:
        spark.conf.set(key, old)


# --- stage 2: docmap ----------------------------------------------------------


def build_docmap(pages: DataFrame, num_partitions: int, offset: int = 0) -> DataFrame:
    """(doc_id, url); doc_id = offset + dense rank by url (deterministic).

    Scalable zipWithIndex without leaving the JVM: range-partition by url,
    count rows per partition (one cheap job), then doc_id = partition offset
    + within-partition row_number.  The window partitions by the physical
    partition id, so no single-partition global sort ever materializes; the
    resulting ids are the global url rank regardless of how the range
    boundaries fell.

    Built BEFORE tokenization so the token stream can carry the 8-byte
    doc_id instead of the url string (claim-check: keep n_postings-scale
    rows narrow).
    """
    from pyspark.sql import Window

    urls = (
        pages.select("url")
        .repartitionByRange(num_partitions, "url")
        .withColumn("pid", F.spark_partition_id())
    )
    # Pin pid assignment: the offsets collected below and the window job must
    # see the SAME physical partitioning (range sampling is not replayed).
    # The caller must materialize the result before this cache is evicted;
    # build_index writes the docmap table immediately and then unpersists.
    urls.persist()
    counts = {r["pid"]: r["cnt"] for r in
              urls.groupBy("pid").agg(F.count("*").alias("cnt")).collect()}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # empty input (e.g. a fully-filtered streaming micro-batch): create_map()
    # with no entries is the VOID type and fails analysis; the placeholder
    # entry is never evaluated because there are no rows
    offset_map = F.create_map(
        *[F.lit(x) for pid, off in offsets.items() for x in (pid, off)]
    ) if offsets else F.create_map(F.lit(0), F.lit(0))
    w = Window.partitionBy("pid").orderBy("url")
    docmap = urls.select(
        (F.row_number().over(w) - 1 + offset_map[F.col("pid")] + F.lit(offset))
        .cast("long")
        .alias("doc_id"),
        "url",
    )
    docmap._graft_cached_urls = urls  # handle for the caller to unpersist
    docmap._graft_n_docs = acc  # already-known count: saves a count job
    return docmap


def _ordered_offsets(
    spark, pages: DataFrame, offset: int = 0
) -> tuple[dict[int, tuple[int, int]], int]:
    """Job 1 of the url_ordered docmap: per-partition (count, min, max url),
    which also VERIFIES the url_ordered declaration — overlapping partition
    url ranges abort loudly.  Returns ({pid: (start, cnt)}, n).  The caller
    must hold contiguous_splits so partitions are contiguous file chunks."""
    urls = pages.select("url")
    meta = [
        r
        for r in urls.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("cnt"), F.min("url").alias("mn"),
             F.max("url").alias("mx"))
        .collect()
        if r["cnt"] > 0
    ]
    meta.sort(key=lambda r: r["mn"])
    for a, b in zip(meta, meta[1:]):
        if a["mx"] >= b["mn"]:
            raise ValueError(
                "pages files have overlapping url ranges; build with "
                "url_ordered=False (general path) instead"
            )
    offsets: dict[int, tuple[int, int]] = {}
    acc = offset
    for r in meta:
        offsets[r["pid"]] = (acc, r["cnt"])
        acc += r["cnt"]
    return offsets, acc - offset


def _ordered_doc_id(offsets: dict[int, tuple[int, int]]):
    """JVM-only doc_id for a scan planned IDENTICALLY to _ordered_offsets':

        doc_id = offset_map[spark_partition_id()]
                 + (monotonically_increasing_id() & (2^33 - 1))

    monotonically_increasing_id's documented layout is (partition id << 33)
    | within-partition row index, so the low 33 bits ARE the row index —
    whole-stage codegen, no Python worker round-trip over the corpus."""
    offset_map = F.create_map(
        *[F.lit(x) for pid, (off, _) in offsets.items() for x in (pid, off)]
    )
    return (
        offset_map[F.spark_partition_id()]
        + F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    ).cast("long")


def _pid_check_aggs(offsets: dict[int, tuple[int, int]]) -> list:
    """count/min/max drift aggregates for a scan that derives doc_id from
    _ordered_doc_id, plus EXACT per-partition counts when the scan has
    <= 256 partitions (conditional aggregates; past that, count+min+max
    still catch any drift that shifts a boundary)."""
    aggs = [
        F.count("*").alias("n"),
        F.count("doc_id").alias("nn"),  # catches offset-map misses (nulls)
        F.min("doc_id").alias("mn"),
        F.max("doc_id").alias("mx"),
    ]
    if len(offsets) <= 256:
        aggs += [
            F.sum(
                F.when(F.spark_partition_id() == pid, 1).otherwise(0)
            ).alias(f"c{pid}")
            for pid in offsets
        ]
    return aggs


def _pid_check_ok(
    m: dict, offsets: dict[int, tuple[int, int]], n: int, offset: int
) -> bool:
    return (
        m["n"] == n
        and m["nn"] == n
        and (n == 0 or (m["mn"] == offset and m["mx"] == offset + n - 1))
        and (
            len(offsets) > 256
            or all(m[f"c{pid}"] == cnt for pid, (_, cnt) in offsets.items())
        )
    )


def write_docmap_ordered(
    spark,
    pages: DataFrame,
    cat: Catalog,
    name: str,
    offsets: dict[int, tuple[int, int]],
    n: int,
    offset: int = 0,
) -> None:
    """Job 2 of the url_ordered docmap: whole-stage-codegen'd id assignment
    + write.  Drift between this scan and the offsets scan (conf change,
    listing-order change — they must plan identically) is caught by an
    Observation riding the write (see _pid_check_aggs); the query-side
    decode's block-overlap check remains the downstream backstop.  Caller
    must hold contiguous_splits."""
    from pyspark.sql import Observation

    obs = Observation(f"docmap-assign-{name}")
    out_df = pages.select(
        _ordered_doc_id(offsets).alias("doc_id"), "url"
    ).observe(obs, *_pid_check_aggs(offsets))
    cat.write(out_df, name)
    m = obs.get
    if not _pid_check_ok(m, offsets, n, offset):
        raise RuntimeError(
            f"docmap assignment drift: write observed (n={m['n']}, "
            f"min={m['mn']}, max={m['mx']}) but the offsets pass "
            f"recorded n={n} over [{offset}, {offset + n}); the two "
            "scans planned differently — rebuild with url_ordered=False"
        )


def build_docmap_ordered(spark, pages: DataFrame, cat: Catalog, name: str,
                         offset: int = 0) -> int:
    """url_ordered docmap fast path: ZERO exchanges, ZERO Python stages.

    With contiguous_splits every scan partition is one contiguous url range
    of one file (and rows within a file are url-sorted — the url_ordered
    declaration), so the global url rank is partition offset + row index.
    Two narrow jobs — _ordered_offsets then write_docmap_ordered.  The
    general path (build_docmap) pays a range exchange + window instead;
    this one scales to any corpus with no data movement at all.  Returns
    the doc count.  (build_index overlaps the write job with the tokens
    stage instead of calling this wrapper; extensions use it directly.)
    """
    with contiguous_splits(spark):
        offsets, n = _ordered_offsets(spark, pages, offset)
        write_docmap_ordered(spark, pages, cat, name, offsets, n, offset)
    return n


# --- stage 4: block encoder -----------------------------------------------------


def _vb_lens(v: "np.ndarray") -> "np.ndarray":
    """Varbyte byte-length per value (vectorized)."""
    lens = np.ones(v.size, dtype=np.int64)
    tmp = v >> 7
    while (tmp > 0).any():
        lens += tmp > 0
        tmp >>= 7
    return lens


def make_arrow_encoder(avgdl: float, block_size: int = spec.BLOCK_SIZE):
    """mapInArrow encoder over one partition of posting rows.

    The distributed sort is GONE from the physical plan: each partition is
    buffered (partitions are sized ~15 MB by enc_parts / the 16 MB scan
    splits), terms are dictionary-encoded in Arrow (strings never become
    Python objects — converting 70M rows to pandas object strings was the
    single largest flat cost of the old encoder), rows are ordered by one
    numpy ``lexsort`` over (term-code, doc_id) int arrays, and the varbyte
    payload column is emitted as a ZERO-COPY Arrow binary array whose
    offsets are exactly the per-block byte boundaries of one contiguous
    encode pass.

    Works on any row order, so it serves both encode paths:
      * url_ordered: no exchange at all (scan splits are doc-range shards);
      * general: one hash ``repartition(term, shard)`` exchange, sort-free.
    """
    import pyarrow as pa

    k1, b = spec.K1, spec.B

    def _bin_col(values: bytes, off: "np.ndarray", starts, n) -> "pa.Array":
        bounds = np.append(off[starts], off[n]).astype(np.int32)
        return pa.Array.from_buffers(
            pa.binary(), len(starts),
            [None, pa.py_buffer(bounds.tobytes()), pa.py_buffer(values)],
        )

    def encode_partition(batches: "Iterator[pa.RecordBatch]"):
        blist = [rb for rb in batches if rb.num_rows]
        if not blist:
            return
        # zero-copy table view; NEVER combine_chunks() the whole table — the
        # full-partition copy (dominated by the term strings) was the
        # encode stage's largest memory-bandwidth cost and the reason 2->8
        # worker scaling sagged on one box (VERDICT r1 #7).  Terms are
        # dictionary-encoded per chunk and the dictionaries unified, so the
        # combined string column is never materialized; int columns are
        # concatenated once into the contiguous arrays lexsort needs.
        tbl = pa.Table.from_batches(blist)
        n = tbl.num_rows
        term_col = tbl.column("term")
        encd = term_col.dictionary_encode()
        if encd.num_chunks == 1:
            vocab = encd.chunk(0).dictionary
            codes = encd.chunk(0).indices.to_numpy().astype(np.int64)
        else:
            encd = encd.unify_dictionaries()
            vocab = encd.chunk(0).dictionary
            codes = np.concatenate(
                [c.indices.to_numpy() for c in encd.chunks]
            ).astype(np.int64)

        def _np(name: str, dtype=None) -> "np.ndarray":
            col = tbl.column(name)
            if col.num_chunks == 1:
                a = col.chunk(0).to_numpy()
            else:
                a = np.concatenate([c.to_numpy() for c in col.chunks])
            return a if dtype is None else a.astype(dtype)

        doc_ids = _np("doc_id")
        # tf/doc_len stay int32 end-to-end (tokens schema -> Arrow -> numpy
        # -> int32 varbyte): no widening copies, half the sort-gather and
        # varbyte traffic; the per-block tf_sum accumulates in int64
        tfs = _np("tf")
        dls = _np("doc_len")
        shards = _np("shard")

        order = np.lexsort((doc_ids, codes))
        codes = codes[order]
        doc_ids = np.ascontiguousarray(doc_ids[order])
        tfs = tfs[order]
        dls = dls[order]
        shards = shards[order]

        pos = np.arange(n)
        group_start = np.ones(n, dtype=bool)
        group_start[1:] = (codes[1:] != codes[:-1]) | (shards[1:] != shards[:-1])
        first_pos = np.maximum.accumulate(np.where(group_start, pos, 0))
        idx_in_group = pos - first_pos
        block_start = group_start | (idx_in_group % block_size == 0)
        starts = np.flatnonzero(block_start)
        ends = np.empty_like(starts)
        ends[:-1] = starts[1:] - 1
        ends[-1] = n - 1

        # exact idf-free score part per posting (same op order as query side)
        parts = (tfs * (k1 + 1.0)) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
        max_tf = np.maximum.reduceat(tfs, starts)
        tf_sum = np.add.reduceat(tfs, starts, dtype=np.int64)
        max_part = np.maximum.reduceat(parts, starts)

        # delta-gap doc_ids with a reset at every block start; one varbyte pass
        gaps = doc_ids.copy()
        gaps[1:] -= doc_ids[:-1]
        gaps[starts] = doc_ids[starts]
        ids_bytes = encode_varbyte(gaps)
        tfs_bytes = encode_varbyte(tfs)
        dls_bytes = encode_varbyte(dls)
        ids_off = np.zeros(n + 1, dtype=np.int64)
        ids_off[1:] = np.cumsum(_vb_lens(gaps))
        tfs_off = np.zeros(n + 1, dtype=np.int64)
        tfs_off[1:] = np.cumsum(_vb_lens(tfs))
        dls_off = np.zeros(n + 1, dtype=np.int64)
        dls_off[1:] = np.cumsum(_vb_lens(dls))

        yield pa.RecordBatch.from_arrays(
            [
                vocab.take(pa.array(codes[starts])),
                pa.array(shards[starts].astype(np.int32)),
                pa.array((idx_in_group[starts] // block_size).astype(np.int32)),
                pa.array((ends - starts + 1).astype(np.int32)),
                pa.array(doc_ids[starts]),
                pa.array(doc_ids[ends]),
                pa.array(max_tf.astype(np.int32)),
                pa.array(tf_sum),
                pa.array(max_part),
                _bin_col(ids_bytes, ids_off, starts, n),
                _bin_col(tfs_bytes, tfs_off, starts, n),
                _bin_col(dls_bytes, dls_off, starts, n),
            ],
            names=[f.name for f in BLOCKS_SCHEMA.fields],
        )

    return encode_partition


# --- stage 3: posting rows (derived, never staged) ---------------------------


def posting_rows_df(
    tokens: DataFrame,
    n_docs: int,
    n_shards: int,
    n_buckets: int,
) -> DataFrame:
    """Derived (term, doc_id, tf, doc_len, shard, bucket) posting rows.

    A VIEW, not a staged table: the posting stream is the build's largest
    intermediate (n_postings rows), and materializing it cost more than the
    whole rest of the pipeline — its dynamic ``partitionBy(bucket)`` write
    sort-spilled per task at low parallelism (measured 18x superlinear at
    400k docs / 8 cores).  The fused pipeline computes rows once and feeds
    them straight into the encode shuffle; the exhaustive oracle and tests
    recompute them from the staged tokens.  No join here at all: tokens
    already carry doc_id (attached before extraction) and doc_len."""
    return tokens.filter(F.col("term").isNotNull()).select(
        "term",
        "doc_id",
        "tf",
        "doc_len",
        F.floor(F.col("doc_id") * n_shards / F.lit(n_docs)).cast("int").alias("shard"),
        F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("bucket"),
    )


# --- full build ------------------------------------------------------------------


def build_index(
    spark: SparkSession,
    pages_path,
    index_root: str,
    n_shards: int = 8,
    n_buckets: int = 16,
    bucket_batch: int | None = None,
    tokenizer: str = "html",
    fail_after_buckets: int | None = None,
    url_ordered: bool = False,
) -> Catalog:
    """Build (or resume) the full index under index_root.

    pages_path: parquet path OR a DataFrame with (url, html|text, lang).
    tokenizer: "html" runs the reference-parity extractor on the html column;
    "text" tokenizes a pre-extracted text column JVM-side.
    fail_after_buckets: test hook — raise after N bucket batches to exercise
    resume-from-manifest.
    url_ordered: declare that the pages table is url-sorted WITHIN each file
    and files cover disjoint url ranges (an Iceberg table write-ordered by
    url; our deterministic corpus).  Then every tokens scan split is already
    a contiguous doc_id range == a doc-range sub-shard, and the encode needs
    only a LOCAL per-partition sort — the n_postings-scale shuffle (the
    single most expensive exchange of the build) disappears (html
    tokenizer; text builds still encode through the exchange, see
    tokens_from_text).  The query-side decode verifies block doc-ranges
    are disjoint and fails loudly if the declaration was wrong.
    """
    cat = Catalog(index_root)
    done = cat.completed_partitions()
    par = spark.sparkContext.defaultParallelism
    # only html tokens files are doc-contiguous (see tokens_from_text)
    local_encode = url_ordered and tokenizer == "html"

    raw = spark.read.parquet(pages_path) if isinstance(pages_path, str) else pages_path
    pages = filtered_pages(raw, tokenizer)

    # -- docmap + tokens ------------------------------------------------------
    # General path: docmap first (tokens joins it to carry doc_id, never url).
    # url_ordered path: BOTH stages share one contiguous-splits window and
    # derive doc_id with the same JVM arithmetic over identically-planned
    # scans (_ordered_doc_id), so tokens never joins the docmap at all —
    # there is no broadcast-size ceiling on url_ordered builds — and the
    # docmap table write (trivial per-task work, driver-bound commit cost)
    # runs on a BACKGROUND thread while the tokens job saturates the task
    # slots: its fixed cost leaves the build's critical path.  Both jobs
    # carry drift Observations (_pid_check_aggs) validated against the one
    # offsets pass; the docmap manifest row commits only after its write is
    # joined and validated, and always BEFORE the tokens row (resume order).
    if url_ordered and ("docmap" not in done or "tokens" not in done):
        import threading

        with contiguous_splits(spark):
            t_off = time.time()
            offsets, n0 = _ordered_offsets(spark, pages)
            t_off = time.time() - t_off
            if "docmap" in done:
                prev = cat.latest_status().get("docmap", {}).get("doc_count")
                if prev is not None and prev != n0:
                    raise RuntimeError(
                        f"resume drift: committed docmap has {prev} docs but "
                        f"the offsets pass now counts {n0}; the pages table "
                        "changed since the docmap was built"
                    )
            dm_err: list[BaseException] = []
            dm_wall: list[float] = [0.0]
            dm_thread = None
            if "docmap" not in done:
                def _dm_write():
                    t = time.time()
                    try:
                        write_docmap_ordered(
                            spark, pages, cat, "docmap", offsets, n0
                        )
                    except BaseException as e:  # re-raised on join
                        dm_err.append(e)
                    finally:
                        dm_wall[0] = time.time() - t

                dm_thread = threading.Thread(
                    target=_dm_write, name="docmap-write", daemon=True
                )
                dm_thread.start()

            def _finish_docmap():
                nonlocal dm_thread
                if dm_thread is None:
                    return
                dm_thread.join()
                dm_thread = None
                if dm_err:
                    raise dm_err[0]
                # build_time_s = the stage's own wall (offsets job + the
                # background write), NOT the overlapped window it hid behind
                cat.append_manifest(
                    [_mrow("docmap", doc_count=n0,
                           build_time_s=dm_wall[0] + t_off)]
                )

            if "tokens" not in done:
                from pyspark.sql import Observation

                t0 = time.time()
                payload = "html" if tokenizer == "html" else "text"
                obs_id = Observation("tokens-docid")
                # each extract task covers one contiguous url range (the
                # enclosing contiguous_splits), so with the html tokenizer
                # the tokens files it writes are doc-contiguous (the local
                # encode below depends on it)
                pages_with_id = pages.select(
                    _ordered_doc_id(offsets).alias("doc_id"), payload
                ).observe(obs_id, *_pid_check_aggs(offsets))
                tok = (
                    tokens_from_pages(pages_with_id)
                    if tokenizer == "html"
                    else tokens_from_text(pages_with_id)
                )
                obs = Observation("corpus-stats")
                tok = tok.observe(
                    obs,
                    F.count(F.when(F.col("term").isNull(), 1)).alias("n"),
                    F.sum(
                        F.when(F.col("term").isNull(), F.col("doc_len"))
                    ).alias("sum_dl"),
                )
                cat.write(tok, "tokens")
                if not _pid_check_ok(obs_id.get, offsets, n0, 0):
                    raise RuntimeError(
                        "tokens doc_id drift: the tokens scan planned "
                        "differently than the offsets pass — rebuild with "
                        "url_ordered=False"
                    )
                _finish_docmap()
                if "stats" not in done:
                    _write_stats(cat, obs.get, n_shards, n_buckets)
                    done = done | {"stats"}
                    cat.append_manifest([_mrow("stats", build_time_s=0.0)])
                cat.append_manifest(
                    [_mrow("tokens", build_time_s=time.time() - t0)]
                )
            else:
                _finish_docmap()
    elif "docmap" not in done:
        t0 = time.time()
        dm = build_docmap(pages, par)
        cat.write(dm, "docmap")
        dm._graft_cached_urls.unpersist(blocking=False)
        n0 = dm._graft_n_docs
        cat.append_manifest(
            [_mrow("docmap", doc_count=n0, build_time_s=time.time() - t0)]
        )

    # -- tokens, general path (corpus stats ride along as observation
    # metrics: the write job computes N and sum(doc_len) from the sentinel
    # rows in-flight, so no separate stats job ever scans the tokens table) --
    if "tokens" not in cat.completed_partitions():
        from pyspark.sql import Observation

        docmap = cat.read(spark, "docmap")
        t0 = time.time()
        # attach doc_id at n_docs scale: broadcast the map when it fits,
        # else the one big shuffle join on url (10^12-doc path)
        n_docs0 = cat.latest_status().get("docmap", {}).get("doc_count") or docmap.count()
        dmj = F.broadcast(docmap) if n_docs0 <= BROADCAST_DOCMAP_MAX else docmap
        payload = "html" if tokenizer == "html" else "text"
        pages_with_id = pages.select("url", payload).join(dmj, "url")
        tok = (
            tokens_from_pages(pages_with_id)
            if tokenizer == "html"
            else tokens_from_text(pages_with_id)
        )
        obs = Observation("corpus-stats")
        tok = tok.observe(
            obs,
            F.count(F.when(F.col("term").isNull(), 1)).alias("n"),
            F.sum(F.when(F.col("term").isNull(), F.col("doc_len"))).alias("sum_dl"),
        )
        cat.write(tok, "tokens")
        if "stats" not in done:
            _write_stats(cat, obs.get, n_shards, n_buckets)
            done = done | {"stats"}
            cat.append_manifest([_mrow("stats", build_time_s=0.0)])
        cat.append_manifest(
            [_mrow("tokens", build_time_s=time.time() - t0)]
        )
    tokens = cat.read(spark, "tokens")

    # -- stats fallback (resume path: tokens committed, stats lost) ----------
    if "stats" not in done:
        t0 = time.time()
        agg = (
            tokens.filter(F.col("term").isNull())
            .agg(F.count("*").alias("n"), F.sum("doc_len").alias("sum_dl"))
            .collect()[0]
        )
        _write_stats(cat, {"n": agg["n"], "sum_dl": agg["sum_dl"]},
                     n_shards, n_buckets)
        cat.append_manifest([_mrow("stats", build_time_s=time.time() - t0)])
    stats = cat.read_stats()
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    n_shards, n_buckets = stats["n_shards"], stats["n_buckets"]

    # -- posting rows: derived view, fused into the encode shuffle --------------
    posting_rows = posting_rows_df(tokens, n_docs, n_shards, n_buckets)

    # -- per-bucket block encode (the resumable unit) ----------------------------
    # Encode shuffle partition count follows the DATA (~400k rows / task,
    # ~15 MB — small enough to sort in cache), floored at the parallelism —
    # identical physical plan at every cluster size, no low-core sort spill,
    # and per-task working sets that don't gang up on memory bandwidth.
    enc_parts = max(par, min(4096, n_docs // 3_000))
    encoder = make_arrow_encoder(avgdl)
    batch = bucket_batch or n_buckets
    batches_done = 0
    all_buckets = list(range(n_buckets))
    for start in range(0, n_buckets, batch):
        group = all_buckets[start : start + batch]
        pending = [b for b in group if f"bucket:{b}" not in done]
        if not pending:
            continue
        if fail_after_buckets is not None and batches_done >= fail_after_buckets:
            raise RuntimeError(f"injected failure after {batches_done} bucket batches")
        t0 = time.time()
        src = posting_rows
        if len(pending) < n_buckets:
            # resuming / batched: recompute only the pending buckets' rows
            # (a tokens re-scan — cheaper than staging the full stream)
            src = src.filter(F.col("bucket").isin(pending))
        # bucket is a routing/filter column only — the encoder never reads
        # it (the blocks table recomputes it JVM-side below), so drop it
        # before the Arrow transfer into Python
        src = src.drop("bucket")
        if not local_encode:
            # co-locate each (term, shard) group; no sort — ordering is a
            # per-partition numpy detail inside the encoder
            src = src.repartition(max(enc_parts, len(pending)), "term", "shard")
        # url_ordered html: scan splits ARE disjoint doc ranges — no
        # exchange at all.  A (term, shard) group split across splits
        # yields one block run per split; block order is recovered from
        # first_doc_id (ranges are disjoint), verified at query time.
        blocks = (
            src.mapInArrow(encoder, schema=BLOCKS_SCHEMA)
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"),
            )
            # consolidate: one file per DOC-RANGE SHARD per batch (the
            # blocks table is ~block_size x smaller than the postings).
            # Document-partitioned layout: each shard dir holds complete
            # posting lists of EVERY term for its doc range, which is what
            # lets the query path score whole queries scan-side with zero
            # payload shuffle (plans/bm25.topk).  Files are term-sorted
            # within each shard so query-time isin predicates prune row
            # groups; the explicit shard-prefixed sort also satisfies the
            # dynamic-partition writer's required ordering (no extra sort).
            .repartition(max(1, min(n_shards, max(par, len(pending)))), "shard")
            .sortWithinPartitions("shard", "term", "first_doc_id")
        )
        # block_max_part is idf-FREE, so no blocks x lexicon join is paid
        # here (the query side does not read it; see the module docstring).
        # ALL per-bucket lineage metrics ride the write job as Observation
        # metrics — computed in-flight, so the driver never reads the
        # written files at all (pending is at most n_buckets groups of 4
        # conditional aggregates)
        from pyspark.sql import Observation

        obs = Observation(f"bucket-metrics-{batches_done}")
        aggs = []
        for b in pending:
            cond = F.col("bucket") == b
            aggs.extend([
                F.sum(F.when(cond, F.col("doc_count"))).alias(f"d{b}"),
                F.sum(
                    F.when(
                        cond,
                        F.octet_length("doc_ids_vb")
                        + F.octet_length("tfs_vb")
                        + F.octet_length("doc_lens_vb"),
                    )
                ).alias(f"b{b}"),
                F.min(F.when(cond, F.col("term"))).alias(f"lo{b}"),
                F.max(F.when(cond, F.col("term"))).alias(f"hi{b}"),
            ])
        blocks = blocks.observe(obs, *aggs)
        stack = contiguous_splits(spark) if local_encode else contextlib.nullcontext()
        with stack:
            # local encode: this action runs the tokens scan + encode, so the
            # no-packing conf must cover it (each encode partition = one
            # contiguous tokens file chunk = one doc range).
            # 8 MiB row groups: the query path reads per-shard files with a
            # term-isin row-group filter; small groups bound the overshoot a
            # rare term pays per shard.
            (
                blocks.write.mode("append")
                .partitionBy("shard")
                .option("parquet.block.size", 8 * 1024 * 1024)
                .parquet(cat.path("postings"))
            )
        m = obs.get
        dt = time.time() - t0
        cat.append_manifest(
            [
                _mrow(
                    f"bucket:{b}",
                    term_range=(
                        f"{m.get(f'lo{b}')}..{m.get(f'hi{b}')}"
                        if m.get(f"lo{b}") is not None
                        else ""
                    ),
                    doc_count=int(m.get(f"d{b}") or 0),
                    bytes=int(m.get(f"b{b}") or 0),
                    build_time_s=dt / max(1, len(pending)),
                )
                for b in pending
            ]
        )
        batches_done += 1

    # -- lexicon: derived from the BLOCKS table, never a tokens rescan — the
    # blocks table is block_size smaller than the posting stream, and it
    # already carries df (sum of doc_count) and cf (sum of tf_sum) per term
    if "lexicon" not in done:
        t0 = time.time()
        cat.write(lexicon_from_blocks(cat.read(spark, "postings"), n_docs, n_buckets),
                  "lexicon")
        cat.append_manifest([_mrow("lexicon", build_time_s=time.time() - t0)])

    return cat


def lexicon_from_blocks(blocks: DataFrame, n_docs: int, n_buckets: int) -> DataFrame:
    """(term, df, cf, n_blocks, idf, bucket) from block metadata alone."""
    return (
        blocks.groupBy("term")
        .agg(
            F.sum("doc_count").alias("df"),  # one posting per (term, doc)
            F.sum("tf_sum").alias("cf"),
            F.count("*").cast("int").alias("n_blocks"),
        )
        .withColumn(
            "idf",  # Robertson idf, same formula as spec.idf
            F.log(
                (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            # materialized bucket id: lets non-JVM readers (the serving
            # path) locate a term's postings partition without
            # reimplementing Spark's xxhash64
            "bucket",
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"),
        )
        .select("term", "df", "cf", "n_blocks", "idf", "bucket")
    )


# --- incremental extension (segment append) ----------------------------------


def init_index(
    spark: SparkSession, index_root: str, n_shards: int = 8, n_buckets: int = 16
) -> Catalog:
    """Create a valid EMPTY index: the base for purely-incremental ingestion
    (streaming/index_stream.py — every micro-batch is an extend_index, so
    one idempotence mechanism covers bootstrap and steady state alike).

    The empty index is a real index, not a marker: queries against it
    return no rows (empty lexicon -> no resolvable terms; empty segment
    list -> no scan units), and the first extension appends segment 1
    exactly as it would onto a batch-built base.  Idempotent: an existing
    index (stats.json present) is returned untouched, so a restarted
    stream never clobbers data.  Write order commits stats.json LAST —
    the existence check's target — so a crash mid-init re-runs all three
    overwrite-idempotent writes."""
    cat = Catalog(index_root)
    if os.path.exists(os.path.join(index_root, "stats.json")):
        return cat
    cat.write(
        spark.createDataFrame(
            [], "term string, df long, cf long, n_blocks int, idf double, bucket int"
        ).repartition(1),
        "lexicon",
    )
    cat.write_registry(
        {
            "version": 0,
            "n_docs": 0,
            "sum_dl": 0,
            "avgdl": 0.0,
            "lexicon_dir": "lexicon",
            "segments": [],
            "docmap_dirs": [],
            "token_dirs": [],
        }
    )
    _write_stats(cat, {"n": 0, "sum_dl": 0}, n_shards, n_buckets)
    return cat


def extend_index(
    spark: SparkSession,
    new_pages_path,
    index_root: str,
    tokenizer: str = "html",
    url_ordered: bool = False,
    allow_duplicate: bool = False,
    source_id: str | None = None,
) -> Catalog:
    """Append new documents to an existing index WITHOUT rebuilding it.

    Semantics are AT-LEAST-ONCE per source batch: a CRASHED extension
    resumes from its manifest rows (idempotent), but rerunning after a
    successful commit would append the same documents as a duplicate
    segment.  To guard the common footgun, each segment records a source
    fingerprint (pages path + doc count); a rerun whose fingerprint equals
    the LAST committed segment's is refused unless allow_duplicate=True.

    Lucene-segment-style, but rank-EXACT: the result of extend answers every
    query with scores identical to a fresh full build over the concatenated
    corpus (asserted by tests/test_extend.py), because

      * doc_ids continue from the base count (dense rank over the new urls,
        offset by n_docs) — disjoint doc ranges by construction;
      * the delta gets its own shard-id range (version*n_shards + local), so
        per-(term, shard) groups stay disjoint contiguous doc ranges and the
        query-side decode's global block order is preserved;
      * global stats are recomputed EXACTLY and additively (sum_dl is an
        exact int); scores always use the CURRENT global avgdl/idf (decoded
        tf/doc_len are stored per posting, so no score math is baked — the
        per-segment encode-time avgdl the registry records only describes
        that segment's unread block_max_part);
      * the lexicon is merged at vocab scale (old lexicon ⊔ delta counts,
        idf recomputed with the new N) — never a corpus-scale rescan;
      * visibility is atomic: queries read the segment registry
        (segments.json, renamed into place LAST), so a crashed extension is
        invisible and a rerun resumes from its manifest rows.

    The reference's closest analog is its append-only PIT ledger ("an update
    is an insert", ref src/models/dto_data_classes/status_dto.py:10-15) —
    here the whole INDEX becomes append-only at segment granularity.
    """
    cat = Catalog(index_root)
    reg = cat.read_registry()
    # exactly-once replay guard: a streaming foreachBatch replays the last
    # unacknowledged micro-batch with the SAME source_id (epoch id); if its
    # extension already committed, the replay is a no-op — this upgrades
    # the at-least-once contract to exactly-once for sources that can name
    # their batches (streaming/index_stream.py)
    if source_id is not None and reg.get("last_source_id") == source_id:
        return cat
    stats = cat.read_stats()
    n_shards, n_buckets = stats["n_shards"], stats["n_buckets"]
    ver = reg["version"] + 1
    pfx = f"ext{ver}:"
    done = cat.completed_partitions()
    par = spark.sparkContext.defaultParallelism

    raw = (
        spark.read.parquet(new_pages_path)
        if isinstance(new_pages_path, str)
        else new_pages_path
    )
    pages = filtered_pages(raw, tokenizer)
    n_base = reg["n_docs"]

    # duplicate-rerun guard: cheap (path compare first; one count job only
    # when the path matches the last committed segment's)
    if isinstance(new_pages_path, str) and not allow_duplicate and reg["segments"]:
        last_src = (reg["segments"][-1] or {}).get("source") or {}
        if last_src.get("path") == new_pages_path:
            n_now = pages.count()
            if n_now == last_src.get("n_docs"):
                raise ValueError(
                    f"pages at {new_pages_path} ({n_now} docs) were already "
                    f"committed as segment {reg['segments'][-1]['dir']}; "
                    "rerunning would duplicate them. Pass "
                    "allow_duplicate=True to force."
                )

    dm_name, tok_name = f"docmap_{ver}", f"tokens_{ver}"
    post_name, lex_name = f"postings_{ver}", f"lexicon_{ver}"

    # url_ordered delta: same structure as build_index — doc_id is derived
    # arithmetically on BOTH scans from one offsets pass (no delta-docmap
    # join, no broadcast ceiling), drift-checked by Observations
    if url_ordered and (pfx + "docmap" not in done or pfx + "tokens" not in done):
        with contiguous_splits(spark):
            t_off = time.time()
            offsets, n0 = _ordered_offsets(spark, pages, offset=n_base)
            t_off = time.time() - t_off
            if pfx + "docmap" in done:
                prev = cat.latest_status().get(pfx + "docmap", {}).get("doc_count")
                if prev is not None and prev != n0:
                    raise RuntimeError(
                        f"resume drift: committed {dm_name} has {prev} docs "
                        f"but the offsets pass now counts {n0}; the delta "
                        "pages changed since the docmap was built"
                    )
            else:
                t0 = time.time()
                write_docmap_ordered(
                    spark, pages, cat, dm_name, offsets, n0, offset=n_base
                )
                cat.append_manifest(
                    [_mrow(pfx + "docmap", doc_count=n0,
                           build_time_s=time.time() - t0 + t_off)]
                )
            if pfx + "tokens" not in done:
                from pyspark.sql import Observation

                t0 = time.time()
                payload = "html" if tokenizer == "html" else "text"
                obs_id = Observation(f"tokens-docid-{ver}")
                pages_with_id = pages.select(
                    _ordered_doc_id(offsets).alias("doc_id"), payload
                ).observe(obs_id, *_pid_check_aggs(offsets))
                tok = (
                    tokens_from_pages(pages_with_id)
                    if tokenizer == "html"
                    else tokens_from_text(pages_with_id)
                )
                cat.write(tok, tok_name)
                if not _pid_check_ok(obs_id.get, offsets, n0, n_base):
                    raise RuntimeError(
                        f"tokens doc_id drift in segment {ver}: the tokens "
                        "scan planned differently than the offsets pass — "
                        "extend with url_ordered=False"
                    )
                cat.append_manifest(
                    [_mrow(pfx + "tokens", build_time_s=time.time() - t0)]
                )
    else:
        if pfx + "docmap" not in done:
            t0 = time.time()
            dm = build_docmap(pages, par, offset=n_base)
            cat.write(dm, dm_name)
            dm._graft_cached_urls.unpersist(blocking=False)
            n0 = dm._graft_n_docs
            cat.append_manifest(
                [_mrow(pfx + "docmap", doc_count=n0,
                       build_time_s=time.time() - t0)]
            )
        if pfx + "tokens" not in done:
            docmap = cat.read(spark, dm_name)
            t0 = time.time()
            # the join side is the DELTA docmap — key the broadcast decision
            # on its size (recovered from the manifest on resume), not
            # n_base: a small delta on a huge base must still broadcast,
            # and a huge delta on a small base must not
            n_delta0 = (
                cat.latest_status().get(pfx + "docmap", {}).get("doc_count")
                or docmap.count()
            )
            dmj = F.broadcast(docmap) if n_delta0 <= BROADCAST_DOCMAP_MAX else docmap
            payload = "html" if tokenizer == "html" else "text"
            pages_with_id = pages.select("url", payload).join(dmj, "url")
            tok = (
                tokens_from_pages(pages_with_id)
                if tokenizer == "html"
                else tokens_from_text(pages_with_id)
            )
            cat.write(tok, tok_name)
            cat.append_manifest(
                [_mrow(pfx + "tokens", build_time_s=time.time() - t0)]
            )
    tokens = cat.read(spark, tok_name)

    agg = (
        tokens.filter(F.col("term").isNull())
        .agg(F.count("*").alias("n"), F.sum("doc_len").alias("sum_dl"))
        .collect()[0]
    )
    n_delta, sum_delta = int(agg["n"]), int(agg["sum_dl"] or 0)
    if n_delta == 0:
        # burn this version number: the (empty) docmap/tokens manifest rows
        # appended above would otherwise be RESUMED INTO by the next,
        # non-empty extension at the same version — which would skip its
        # docmap/tokens stages against the empty dirs and silently drop the
        # new documents.  Advancing the version (segments unchanged) makes
        # the poisoned rows unreachable; queries see no difference.
        burn = {**reg, "version": ver}
        if source_id is not None:
            burn["last_source_id"] = source_id
        cat.write_registry(burn)
        return cat
    n_new = n_base + n_delta  # id high-water (holes from purges included)
    # statistics run over LIVE docs: n_live < n_docs only after a
    # tombstone purge (compact_index) left holes in the id space
    n_live_new = int(reg.get("n_live", n_base)) + n_delta
    sum_new = reg["sum_dl"] + sum_delta
    avgdl_new = sum_new / n_live_new

    # delta posting rows: segment-local doc-range shards, globally unique ids
    rows = tokens.filter(F.col("term").isNotNull()).select(
        "term",
        "doc_id",
        "tf",
        "doc_len",
        (
            F.lit(ver * n_shards)
            + F.floor((F.col("doc_id") - n_base) * n_shards / F.lit(n_delta))
        ).cast("int").alias("shard"),
    )
    if pfx + "postings" not in done:
        t0 = time.time()
        enc_parts = max(par, min(4096, n_delta // 3_000))
        # only html tokens files are doc-contiguous (see tokens_from_text)
        local_encode = url_ordered and tokenizer == "html"
        src = rows if local_encode else rows.repartition(enc_parts, "term", "shard")
        blocks = (
            src.mapInArrow(make_arrow_encoder(avgdl_new), schema=BLOCKS_SCHEMA)
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"),
            )
            .repartition(max(1, min(n_shards, par)), "shard")
            .sortWithinPartitions("shard", "term", "first_doc_id")
        )
        stack = contiguous_splits(spark) if local_encode else contextlib.nullcontext()
        with stack:
            (
                blocks.write.mode("overwrite")
                .partitionBy("shard")
                .option("parquet.block.size", 8 * 1024 * 1024)
                .parquet(cat.path(post_name))
            )
        cat.append_manifest(
            [_mrow(pfx + "postings", doc_count=n_delta, build_time_s=time.time() - t0)]
        )

    if pfx + "lexicon" not in done:
        t0 = time.time()
        # vocab-scale merge: old lexicon ⊔ delta counts from the delta
        # BLOCKS table (df/cf/n_blocks all live in block metadata)
        delta = (
            cat.read(spark, post_name)
            .groupBy("term")
            .agg(
                F.sum("doc_count").alias("df_d"),
                F.sum("tf_sum").alias("cf_d"),
                F.count("*").cast("int").alias("nb_d"),
            )
        )
        old = cat.read(spark, reg["lexicon_dir"]).select(
            "term", "df", "cf", "n_blocks"
        )
        merged = (
            old.join(delta, "term", "full_outer")
            .select(
                "term",
                (F.coalesce("df", F.lit(0)) + F.coalesce("df_d", F.lit(0))).alias("df"),
                (F.coalesce("cf", F.lit(0)) + F.coalesce("cf_d", F.lit(0))).alias("cf"),
                (
                    F.coalesce("n_blocks", F.lit(0)) + F.coalesce("nb_d", F.lit(0))
                ).cast("int").alias("n_blocks"),
            )
            .withColumn(
                "idf",
                F.log(
                    (F.lit(float(n_live_new)) - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                ),
            )
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"),
            )
        )
        cat.write(merged.select("term", "df", "cf", "n_blocks", "idf", "bucket"),
                  lex_name)
        cat.append_manifest([_mrow(pfx + "lexicon", build_time_s=time.time() - t0)])

    # atomic visibility commit: the registry rename IS the extension commit.
    # {**reg, ...}: keys this function doesn't own (e.g. the positional
    # sidecar's positions_dirs/positions_n_docs) must SURVIVE the commit —
    # the sidecar becomes stale (covered count < new n_docs), which its
    # readers detect and extend_positions repairs; dropping the keys would
    # silently lose the sidecar instead
    reg_new = {
        **reg,
        "version": ver,
        "n_docs": n_new,
        "n_live": n_live_new,
        "sum_dl": sum_new,
        "avgdl": avgdl_new,
        "lexicon_dir": lex_name,
        "segments": reg["segments"]
        + [
            {
                "dir": post_name,
                "avgdl": avgdl_new,
                "source": {
                    "path": new_pages_path
                    if isinstance(new_pages_path, str)
                    else None,
                    "n_docs": n_delta,
                    "source_id": source_id,
                },
            }
        ],
        "docmap_dirs": reg.get("docmap_dirs", ["docmap"]) + [dm_name],
        "token_dirs": reg.get("token_dirs", ["tokens"]) + [tok_name],
    }
    if source_id is not None:
        reg_new["last_source_id"] = source_id
    cat.write_registry(reg_new)
    cat.append_manifest(
        [_mrow(pfx + "commit", doc_count=n_delta, build_time_s=0.0)]
    )
    return cat


def compact_index(
    spark: SparkSession, index_root: str, prune: bool = False
) -> Catalog:
    """Merge all posting segments of an extended index into ONE segment.

    Extensions (extend_index) are Lucene-style segment appends: each adds a
    posting directory, a docmap directory, and a bound-correction factor the
    query side must apply per old segment.  Compaction rewrites the index
    into the form a FRESH build over the concatenated corpus would produce —
    physically: posting rows are re-derived from the staged tokens tables
    (never re-tokenized), re-sharded by the GLOBAL doc count
    (shard = doc_id * n_shards // n_docs, exactly posting_rows_df), and
    re-encoded against the CURRENT global avgdl, so every block, block-max
    bound, and lexicon row equals the fresh build's and the drift factor
    returns to 1.0 for the whole index.  Queries before and after compaction
    are score- and rank-identical (tests/test_compact.py), answered from
    n_shards directories instead of version*n_shards.

    Cost at scale: one scan of the tokens union + the (term, shard) encode
    shuffle — a fresh build MINUS extraction/tokenization, which dominates
    it; the classic segment-merge economics.  The registry rename is the
    atomic visibility commit (crash before it leaves the multi-segment index
    fully live; the stage manifest rows make a rerun resume, not redo).

    prune=True deletes the replaced posting/lexicon/docmap directories after
    the commit (the staged tokens tables are always kept — they are the
    oracle/rebuild source).

    Tombstone purge (operators/deletes.py): when the registry carries
    ``deleted_dirs``, compaction is also the physical reclaim — deleted
    docs' token rows, posting rows and docmap rows are dropped, the BM25
    statistics (sum_dl/avgdl, df/idf via ``n_live``) are recomputed over
    the LIVE corpus, and the tombstone list resets; afterwards queries
    equal a fresh build over the live documents (tests/test_deletes.py).
    Doc ids are NOT renumbered: ``n_docs`` stays the id high-water mark
    (extensions never reuse an id, sidecars and external references stay
    valid), so the id space keeps holes and shard ranges stay monotone.
    The staged tokens must be rewritten live-only here, or the next
    compaction would resurrect the deleted docs from them.
    """
    import shutil

    from .deletes import deleted_ids_df

    cat = Catalog(index_root)
    reg = cat.read_registry()
    old_del_dirs = reg.get("deleted_dirs", [])
    if (
        len(reg["segments"]) == 1
        and len(reg.get("docmap_dirs", ["docmap"])) == 1
        and not old_del_dirs
    ):
        return cat  # already single-segment, nothing tombstoned
    stats = cat.read_stats()
    n_shards, n_buckets = stats["n_shards"], stats["n_buckets"]
    n_docs, avgdl = int(reg["n_docs"]), float(reg["avgdl"])
    ver = reg["version"] + 1
    pfx = f"compact{ver}:"
    post_name, lex_name, dm_name = (
        f"postings_c{ver}", f"lexicon_c{ver}", f"docmap_c{ver}",
    )
    done = cat.completed_partitions()
    par = spark.sparkContext.defaultParallelism

    del_df = deleted_ids_df(spark, cat, reg)
    old_tok_dirs = reg.get("token_dirs", ["tokens"])
    tok_dirs = old_tok_dirs
    n_live, sum_dl_new = int(reg.get("n_live", n_docs)), int(reg["sum_dl"])
    if del_df is not None:
        # metadata-scale tombstone set: broadcast the anti-join when small
        # (same economics as the docmap join), shuffle otherwise
        if int(reg.get("n_deleted", 0)) <= BROADCAST_DOCMAP_MAX:
            del_df = F.broadcast(del_df)
        tok_name = f"tokens_c{ver}"
        if pfx + "tokens" not in done:
            t0 = time.time()
            cat.write(
                cat.read(spark, *old_tok_dirs).join(
                    del_df, "doc_id", "left_anti"
                ),
                tok_name,
            )
            cat.append_manifest(
                [_mrow(pfx + "tokens", build_time_s=time.time() - t0)]
            )
        tok_dirs = [tok_name]
        # live corpus stats from the per-doc sentinel rows (term NULL) of
        # the purged tokens — deterministic on resume (derived data only)
        live = (
            cat.read(spark, tok_name)
            .filter(F.col("term").isNull())
            .agg(
                F.count("*").alias("n"), F.sum("doc_len").alias("sum_dl")
            )
            .collect()[0]
        )
        n_live, sum_dl_new = int(live["n"]), int(live["sum_dl"] or 0)
        avgdl = sum_dl_new / n_live if n_live else 0.0

    if pfx + "postings" not in done:
        t0 = time.time()
        tokens = cat.read(spark, *tok_dirs)
        rows = posting_rows_df(tokens, n_docs, n_shards, n_buckets).drop("bucket")
        enc_parts = max(par, min(4096, n_docs // 3_000))
        # always the general shuffle path: segment token files are doc-
        # contiguous only per segment, and the re-shard boundaries (global
        # n_docs) cross segments — co-locate each (term, shard) group
        blocks = (
            rows.repartition(enc_parts, "term", "shard")
            .mapInArrow(make_arrow_encoder(avgdl), schema=BLOCKS_SCHEMA)
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"),
            )
            .repartition(max(1, min(n_shards, par)), "shard")
            .sortWithinPartitions("shard", "term", "first_doc_id")
        )
        (
            blocks.write.mode("overwrite")
            .partitionBy("shard")
            .option("parquet.block.size", 8 * 1024 * 1024)
            .parquet(cat.path(post_name))
        )
        cat.append_manifest(
            [_mrow(pfx + "postings", doc_count=n_docs,
                   build_time_s=time.time() - t0)]
        )

    if pfx + "lexicon" not in done:
        t0 = time.time()
        # idf over the LIVE doc count: after a purge the blocks contain
        # live postings only, so df/n_live is the fresh-build statistic
        cat.write(
            lexicon_from_blocks(cat.read(spark, post_name), n_live, n_buckets),
            lex_name,
        )
        cat.append_manifest([_mrow(pfx + "lexicon", build_time_s=time.time() - t0)])

    old_dm_dirs = reg.get("docmap_dirs", ["docmap"])
    if pfx + "docmap" not in done:
        t0 = time.time()
        dm = cat.read(spark, *old_dm_dirs)
        if del_df is not None:
            dm = dm.join(del_df, "doc_id", "left_anti")
        cat.write(dm.repartition(max(1, min(par, 32))), dm_name)
        cat.append_manifest([_mrow(pfx + "docmap", doc_count=n_live,
                                   build_time_s=time.time() - t0)])

    old_seg_dirs = [s["dir"] for s in reg["segments"]]
    old_lex_dir = reg["lexicon_dir"]
    # {**reg, ...}: preserve keys compaction doesn't own — the positional
    # sidecar stays VALID across compaction (doc ids are unchanged)
    reg_new = {
        **reg,
        "version": ver,
        "n_docs": n_docs,  # id high-water mark, NOT the live count
        "n_live": n_live,
        "sum_dl": sum_dl_new,
        "avgdl": avgdl,
        "lexicon_dir": lex_name,
        "segments": [
            {
                "dir": post_name,
                "avgdl": avgdl,
                "source": {"compacted_from": old_seg_dirs},
            }
        ],
        "docmap_dirs": [dm_name],
        "token_dirs": tok_dirs,
        # tombstones are now physically purged
        "deleted_dirs": [],
        "n_deleted": 0,
    }
    cat.write_registry(reg_new)
    cat.append_manifest([_mrow(pfx + "commit", doc_count=n_live, build_time_s=0.0)])

    if prune:
        gone = old_seg_dirs + [old_lex_dir] + old_dm_dirs + old_del_dirs
        if tok_dirs != old_tok_dirs:
            gone += old_tok_dirs
        for d in set(gone):
            shutil.rmtree(cat.path(d), ignore_errors=True)
    return cat


def _write_stats(cat: Catalog, agg: dict, n_shards: int, n_buckets: int) -> None:
    """avgdl from the EXACT int sum (doubles are exact far beyond any
    realistic sum here), so incremental extensions can recompute the
    identical global value additively (extend_index)."""
    n, sum_dl = int(agg["n"] or 0), int(agg["sum_dl"] or 0)
    cat.write_stats(
        {
            "n_docs": n,
            "sum_dl": sum_dl,
            "avgdl": sum_dl / n if n else 0.0,
            "k1": spec.K1,
            "b": spec.B,
            "block_size": spec.BLOCK_SIZE,
            "n_shards": n_shards,
            "n_buckets": n_buckets,
        }
    )


def _mrow(partition_id: str, **kw) -> dict:
    row = {
        "partition_id": partition_id,
        "term_range": kw.get("term_range", ""),
        "doc_count": kw.get("doc_count", 0),
        "bytes": kw.get("bytes", 0),
        "build_time_s": kw.get("build_time_s", 0.0),
        "status": kw.get("status", "COMPLETED"),
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime()),
    }
    return row
