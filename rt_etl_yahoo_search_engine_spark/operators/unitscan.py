"""The one unit scan under every posting-reading Spark plan.

A unit is one (segment, doc-range shard) directory of the postings.  The
index is document-sharded, so a unit holds the complete posting list of
every term for its doc range: whatever a plan computes per doc (a score, a
match count, a clause blend) is unit-complete, and per-unit results merge
globally without re-aggregating payload.  Every scan-side plan (bm25.topk,
stats.*, simalt, synonyms) therefore runs the same per-unit steps:

  1. read the queried terms' blocks from the unit's directory (pyarrow,
     term-isin pushdown: term-sorted files prune to a few row groups);
  2. decode the whole block table at once with a caller-supplied unit
     decoder (operators.topk.decode_unit_postings_*: one sort, one
     block-overlap check and one varbyte pass per column straight from
     the Arrow buffers, split into per-term arrays in ascending term
     order);
  3. read the unit's tombstones (operators/deletes.py) over the doc range
     of the blocks it just read.

This module owns those steps and the launch: unit i is partition i of a
JVM-side `range(0, n, 1, n)`, so each task scans exactly one unit and the
plan has no unit-list exchange (nor a driver-pickled unit list).  A plan
supplies only a decoder and an evaluator over the decoded unit.  Posting
payload bytes never leave the task that reads them: the plan's only output
is whatever narrow rows the evaluator yields.
"""

from __future__ import annotations

import os
from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..sources.catalog import Catalog
from .deletes import read_deleted_ids
from .topk import POSTINGS_READ_COLS


def shard_units(cat: Catalog, reg: dict) -> list[str]:
    """The shard directory of every (segment, shard) unit — metadata-scale
    (the directory listing is the driver's only filesystem touch on the
    postings)."""
    units = []
    for seg in reg["segments"]:
        seg_path = cat.path(seg["dir"])
        for d in sorted(os.listdir(seg_path)):
            if d.startswith("shard="):
                units.append(os.path.join(seg_path, d))
    return units


def decoded_units(
    paths: Iterable[str],
    terms: list[str],
    decode: Callable[[object], dict],
    del_paths: list[str],
) -> Iterator[tuple[dict, object]]:
    """Executor side: (tdata, deleted) per unit that holds any of `terms`.

    tdata = decode(the unit's pyarrow block table): each present term ->
    its decoded arrays, in ascending term order (the float accumulation
    order every scorer relies on).  deleted is the unit's sorted
    tombstoned doc ids, or None when there are none."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pds

    for path in paths:
        tbl = pds.dataset(path).to_table(
            columns=POSTINGS_READ_COLS, filter=pds.field("term").isin(terms)
        )
        if tbl.num_rows == 0:
            continue
        tdata = decode(tbl)
        deleted = None
        if del_paths:
            d = read_deleted_ids(
                del_paths,
                pc.min(tbl.column("first_doc_id")).as_py(),
                pc.max(tbl.column("last_doc_id")).as_py(),
            )
            deleted = d if len(d) else None
        yield tdata, deleted


def scan_units(
    spark: SparkSession,
    units: list[str],
    terms: list[str],
    del_paths: list[str],
    decode: Callable[[object], dict],
    evaluate: Callable[[dict, object], Iterable[pd.DataFrame]],
    schema: str,
) -> DataFrame:
    """One task per unit: evaluate(tdata, deleted) runs on every decoded
    unit and its frames (matching `schema`) form the result.

    One unit per task because a unit is the natural work quantum (decode
    once, evaluate the whole query batch); packing several per task makes
    the last wave a straggler tail (measured: 2 units/task left 25% of the
    wall on 1-2 busy cores at 8 slots)."""

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        paths = (units[i] for pdf in pdfs for i in pdf["id"])
        for tdata, deleted in decoded_units(paths, terms, decode, del_paths):
            yield from evaluate(tdata, deleted)

    n = len(units)
    return spark.range(0, n, 1, max(n, 1)).mapInPandas(run, schema=schema)
