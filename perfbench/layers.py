"""Layer attribution for the traced run, measured from outside the engine.

Three sources, all read-only with respect to the engine:

* ``Tracer`` wraps public engine functions and methods while a traced
  pass runs and restores them afterwards: call count, busy seconds, and
  the hit/miss counts of the serve caches.
* ``spark_layers`` reads Spark's uncompressed event log and groups task
  CPU, shuffle and spill by the engine call that was in flight when each
  stage was submitted.
* ``manifest_layers`` reads an index's own manifest ledger.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict


class Tracer:
    """Spans per layer: ``spans[name] = [calls, seconds]``, plus counters and
    the wall intervals of top-level engine calls (for Spark attribution)."""

    def __init__(self):
        self.spans: dict[str, list] = defaultdict(lambda: [0, 0.0])
        self.counts: dict[str, int] = defaultdict(int)
        self.calls: list[tuple[str, float, float]] = []
        self._undo: list[tuple[object, str, object]] = []

    def span(self, name: str, seconds: float) -> None:
        s = self.spans[name]
        s[0] += 1
        s[1] += seconds

    def call(self, name: str, fn, *args, **kw):
        """Run fn as a top-level engine call: timed, and its wall interval
        kept so Spark stages submitted inside it are attributed to name."""
        t0 = time.time()
        try:
            return fn(*args, **kw)
        finally:
            t1 = time.time()
            self.span(name, t1 - t0)
            self.calls.append((name, t0, t1))

    def wrap(self, owner, attr: str, name: str, before=None) -> None:
        """Replace owner.attr by a timing wrapper; before(*args) runs first
        and may bump counters (it sees the cache state before the call)."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        span = self.spans[name]

        def wrapper(*args, **kw):
            if before is not None:
                before(*args)
            t = time.perf_counter()
            try:
                return orig(*args, **kw)
            finally:
                span[0] += 1
                span[1] += time.perf_counter() - t

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def overhead_s(self) -> float:
        """Estimated cost of every wrapped call so far: calls times the
        measured cost of one wrapper around a no-op."""
        probe = Tracer()
        box = type("Box", (), {"f": staticmethod(lambda: None)})
        probe.wrap(box, "f", "probe")
        n = 20_000
        t = time.perf_counter()
        for _ in range(n):
            box.f()
        per_call = (time.perf_counter() - t) / n
        return per_call * sum(s[0] for s in self.spans.values())

    def seconds(self, name: str) -> float:
        return self.spans[name][1] if name in self.spans else 0.0

    def n(self, name: str) -> int:
        return self.spans[name][0] if name in self.spans else 0


def wrap_serve(tracer: Tracer) -> None:
    """Serve-path layers: lexicon lookup, postings (with decode inside),
    BatchScorer paths, and varbyte decode."""
    from rt_etl_yahoo_search_engine_spark.operators import topk as topk_mod
    from rt_etl_yahoo_search_engine_spark.plans import serve as serve_mod

    c = tracer.counts

    def lex_before(searcher, terms):
        c["lexicon_terms"] += len(terms)
        c["lexicon_misses"] += sum(t not in searcher._term_cache for t in terms)

    def post_before(searcher, term_meta):
        c["postings_terms"] += len(term_meta)
        c["postings_hits"] += sum(t in searcher._postings_cache for t in term_meta)

    LS = serve_mod.LocalSearcher
    tracer.wrap(LS, "_lookup_terms", "serve.lexicon", lex_before)
    tracer.wrap(LS, "_decoded_postings", "serve.postings", post_before)
    tracer.wrap(serve_mod, "decode_term_postings_stream", "serve.decode")
    tracer.wrap(topk_mod.BatchScorer, "topk_set", "topk.score")
    tracer.wrap(topk_mod.BatchScorer, "_sparse_set", "topk.sparse")
    tracer.wrap(topk_mod, "decode_doc_ids_stream", "codec.decode")
    tracer.wrap(topk_mod, "decode_varbyte_stream", "codec.decode")


def wrap_query(tracer: Tracer) -> None:
    """Spark query planning: the lexicon lookup topk makes before its job."""
    from rt_etl_yahoo_search_engine_spark.plans import bm25

    tracer.wrap(bm25, "lexicon_idf", "bm25.lexicon")


def wrap_catalog(tracer: Tracer) -> None:
    """Manifest and registry commits."""
    from rt_etl_yahoo_search_engine_spark.sources.catalog import Catalog

    tracer.wrap(Catalog, "append_manifest", "catalog.commit")
    tracer.wrap(Catalog, "write_registry", "catalog.commit")


def spark_layers(event_dir: str, tracer: Tracer, t0: float, t1: float) -> dict:
    """Task metrics of stages submitted in [t0, t1], grouped by the
    tracer's top-level engine call in flight at submission."""
    stages: dict[int, dict] = {}
    tasks: dict[int, list] = defaultdict(list)
    # Spark 4 writes rolling logs: one directory per application
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(event_dir)
                   for f in fs if f.startswith(("events_", "local-", "app-")))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sub = info.get("Submission Time")
                    if sub is not None:
                        stages[info["Stage ID"] * 1000 + info["Stage Attempt ID"]] = {
                            "t": sub / 1000.0, "name": info["Stage Name"]}
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    key = ev["Stage ID"] * 1000 + ev["Stage Attempt ID"]
                    tasks[key].append(ev["Task Metrics"])
    cpu: dict[str, float] = defaultdict(float)
    shuffle = spill = 0
    skew_w = skew_sum = 0.0
    for key, st in stages.items():
        if not (t0 <= st["t"] <= t1):
            continue
        owner = next((n for n, a, b in tracer.calls if a <= st["t"] <= b), "other")
        mods = tasks.get(key, [])
        run_ms = [m["Executor Run Time"] for m in mods]
        cpu[owner.split(".")[0]] += sum(m["Executor CPU Time"] for m in mods) / 1e9
        for m in mods:
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            shuffle += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0))
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        if len(run_ms) > 1 and sum(run_ms) > 0:
            # stage-time-weighted max/mean task run time
            skew_sum += max(run_ms) / statistics.mean(run_ms) * sum(run_ms)
            skew_w += sum(run_ms)
    return {
        "cpu_s": dict(cpu),
        "shuffle_mb": shuffle / 2**20,
        "spill_mb": spill / 2**20,
        "task_skew": skew_sum / skew_w if skew_w else 1.0,
    }


def manifest_layers(index_root: str) -> dict:
    """Stage seconds and exact counts from an index's manifest ledger.

    Each bucket-batch commit writes one row per bucket carrying the
    batch's wall divided by its bucket count, so the bucket rows sum to
    the batch walls."""
    from rt_etl_yahoo_search_engine_spark.sources.catalog import Catalog

    rows = Catalog(index_root).read_manifest()
    out = {"tokens_s": 0.0, "docmap_s": 0.0, "postings_s": 0.0,
           "lexicon_s": 0.0, "postings_rows": 0}
    for r in rows:
        pid = str(r["partition_id"])
        if pid.startswith("bucket:"):
            out["postings_s"] += r["build_time_s"]
            out["postings_rows"] += int(r["doc_count"])
        elif pid in ("tokens", "docmap", "lexicon"):
            out[pid + "_s"] += r["build_time_s"]
    return out


def index_blocks(index_root: str) -> int:
    """Posting blocks = rows of every segment's postings files (footers only)."""
    import pyarrow.parquet as pq

    n = 0
    for dirpath, _, files in os.walk(index_root):
        if os.path.basename(os.path.dirname(dirpath)).startswith("postings"):
            n += sum(pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
                     for f in files if f.endswith(".parquet"))
    return n
