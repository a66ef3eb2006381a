"""The benchmark workloads.

Each workload is a function ``(ctx) -> Outcome``.  It prepares its inputs
(timed as set-up), runs its timed region, then checks results outside the
timed region.  In a traced run the layer wrappers are installed for the
timed region only.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
import layers as tr

BUILD_DOCS = 1000  # pages per timed build_html build
MIN_BUILDS = 2  # timed builds per run, at least
QUERY_DOCS = 600  # pages of the query-side index
BATCH = 100  # queries per query_spark batch
WARM_BATCHES = 4  # untimed query_spark batches in set-up, both modes
UPDATE_BASE_DOCS = 600
CYCLES = 3  # update_serve timed cycles (odd: the median is one sample)
DELTA_DOCS = 20  # pages written per update_serve cycle
DELETES = 3  # base docs deleted per update_serve cycle
QSET = 41  # drawn queries run after each refresh, plus the reference queries
SAMPLE = 12  # queries per sampled correctness check
K = 10


@dataclass
class Outcome:
    setup_s: float
    throughput: float  # the workload's primary rate, per second
    latency_ms: list[float]  # per-operation latencies of the timed region
    index_bytes_per_doc: float
    attempted: int
    failed: int = 0
    checks: list[str] = field(default_factory=list)  # failed check messages
    extra: dict = field(default_factory=dict)  # printed, not bounded
    layers: dict = field(default_factory=dict)  # traced run only
    timed_s: float = 0.0


@dataclass
class Ctx:
    work: str  # scratch dir inside the checkout, removed after the run
    seed: int
    seconds: int
    trace: bool
    spark: object = None
    session_s: float = 0.0
    tracer: tr.Tracer | None = None
    event_dir: str | None = None
    props: dict = field(default_factory=dict)  # workload properties, printed


# --- helpers ---------------------------------------------------------------


def _pages(ctx: Ctx, name: str, n: int, **kw) -> tuple[str, int]:
    """Generate and write n pages; returns (path, number of en pages)."""
    tbl = gen.make_pages(ctx.seed, n, **kw)
    path = os.path.join(ctx.work, name)
    # enough url-disjoint files that every core gets scan splits
    gen.write_pages(tbl, path, n_files=max(2, min(16, n // 50)))
    n_en = sum(1 for lang in tbl.column("lang").to_pylist() if lang == "en")
    if not name.startswith(("warm", "delta")):
        ctx.props.update({
            "pages": n, "en_pages": n_en,
            "mean_html_bytes": round(sum(map(len, tbl.column("html").to_pylist())) / n),
            "vocab": gen.VOCAB_SIZE, "zipf_s": gen.ZIPF_S,
        })
    return path, n_en


def _build(ctx: Ctx, pages: str, idx: str) -> None:
    from rt_etl_yahoo_search_engine_spark.operators.index_build import build_index

    # generated pages are url-sorted within and across files
    build_index(ctx.spark, pages, idx, n_shards=4, n_buckets=8,
                tokenizer="html", url_ordered=True)


def _dir_bytes(path: str) -> int:
    """Bytes of the index's parquet data files (the json ledgers carry
    timestamps, so their length varies run to run)."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def _live_docs(idx: str) -> int:
    from rt_etl_yahoo_search_engine_spark.sources.catalog import Catalog

    reg = Catalog(idx).read_registry()
    return int(reg.get("n_live", reg["n_docs"])) - int(reg.get("n_deleted", 0))


def _n_docs(idx: str) -> int:
    from rt_etl_yahoo_search_engine_spark.sources.catalog import Catalog

    return int(Catalog(idx).read_registry()["n_docs"])


def _rows_by_query(rows) -> dict[str, list[tuple[int, float]]]:
    out: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((int(r["doc_id"]), float(r["score"])))
    return out


def _same(a: dict, b: dict, what: str) -> list[str]:
    """Rank identity: same doc at every rank, scores equal to 9 decimals."""
    bad = []
    for q in sorted(set(a) | set(b)):
        ra, rb = a.get(q, []), b.get(q, [])
        if [d for d, _ in ra] != [d for d, _ in rb] or any(
            abs(x - y) > 1e-9 for (_, x), (_, y) in zip(ra, rb)
        ):
            bad.append(f"{what}: query {q!r} differs")
    return bad


def _oracle_check(ctx: Ctx, idx: str, queries: dict[str, str], mode: str,
                  got: dict) -> list[str]:
    from rt_etl_yahoo_search_engine_spark.plans.bm25 import topk_oracle

    want = _rows_by_query(topk_oracle(ctx.spark, idx, queries, mode=mode, k=K).collect())
    return _same(got, want, f"rank identity vs topk_oracle ({mode})")


def _spark_topk(ctx: Ctx, idx: str, queries: dict[str, str], mode: str) -> dict:
    from rt_etl_yahoo_search_engine_spark.plans.bm25 import topk

    return _rows_by_query(topk(ctx.spark, idx, queries, mode=mode, k=K).collect())


def _sample(queries: list[str], seed: int, n: int = SAMPLE) -> dict[str, str]:
    rng = np.random.default_rng([seed, 99])
    picks = sorted(rng.choice(len(queries), min(n, len(queries)), replace=False))
    return {f"s{i}": queries[i] for i in picks} | {
        f"ref{i}": q for i, q in enumerate(gen.REFERENCE_QUERIES)}


def _count_check(idx: str, n_en: int) -> list[str]:
    n = _n_docs(idx)
    return [] if n == n_en else [f"registry n_docs {n} != generated en pages {n_en}"]


def _trace_common(ctx: Ctx, res: dict, timed_s: float, n_ops: int) -> dict:
    """Wrapper overhead as a share of the timed wall, and the event-log
    window read after the session stops; its Spark totals are divided by
    n_ops, the timed builds, batches or cycles."""
    return {"overhead_share": ctx.tracer.overhead_s() / timed_s,
            "spark": (ctx.event_dir, res["t0"], res["t1"], n_ops)}


def _serve_layers(tc: tr.Tracer, n_queries: int, searcher) -> dict:
    from rt_etl_yahoo_search_engine_spark.operators.topk import BatchScorer

    c = tc.counts
    return {
        "serve.lexicon_us": tc.seconds("serve.lexicon") / n_queries * 1e6,
        "serve.lexicon_miss_ratio": c["lexicon_misses"] / max(1, c["lexicon_terms"]),
        "serve.postings_us": tc.seconds("serve.postings") / n_queries * 1e6,
        "serve.postings_hit_ratio": c["postings_hits"] / max(1, c["postings_terms"]),
        "serve.decode_us": tc.seconds("serve.decode") / n_queries * 1e6,
        "codec.decode_us": tc.seconds("codec.decode") / n_queries * 1e6,
        "topk.score_us": tc.seconds("topk.score") / max(1, tc.n("topk.score")) * 1e6,
        "topk.sparse_share": tc.n("topk.sparse") / max(1, tc.n("topk.score")),
        "topk.dense_mb": (BatchScorer.DENSE_BUDGET_BYTES - searcher._scorer._budget) / 2**20,
    }


# --- build_html ------------------------------------------------------------


def build_html(ctx: Ctx) -> Outcome:
    from rt_etl_yahoo_search_engine_spark import spec
    from rt_etl_yahoo_search_engine_spark.functions.extract import _decode, document_text

    t = time.perf_counter()
    pages, n_en = _pages(ctx, "pages", BUILD_DOCS)
    # the first build in a fresh JVM runs far slower; it belongs to set-up
    _build(ctx, pages, os.path.join(ctx.work, "warm_idx"))
    setup_s = ctx.session_s + time.perf_counter() - t
    builds = iter(range(10**6))

    def run_pass() -> dict:
        tracer = ctx.tracer
        if tracer:
            tr.wrap_catalog(tracer)
        walls, last = [], None
        t0 = time.time()
        end = time.perf_counter() + ctx.seconds
        while len(walls) < MIN_BUILDS or time.perf_counter() < end:
            if last is not None:
                shutil.rmtree(last)
            last = os.path.join(ctx.work, f"idx{next(builds)}")
            s = time.perf_counter()
            if tracer:
                tracer.call("index_build", _build, ctx, pages, last)
            else:
                _build(ctx, pages, last)
            walls.append(time.perf_counter() - s)
        return {"walls": walls, "idx": last, "t0": t0, "t1": time.time()}

    res = run_pass()
    idx = res["idx"]
    out = Outcome(
        setup_s=setup_s,
        throughput=statistics.median(n_en / w for w in res["walls"]),
        latency_ms=[w * 1e3 for w in res["walls"]],
        index_bytes_per_doc=_dir_bytes(idx) / _live_docs(idx),
        attempted=len(res["walls"]),
        timed_s=sum(res["walls"]),
    )
    out.extra["build_walls_s"] = [round(w, 3) for w in res["walls"]]
    if ctx.trace:
        m = tr.manifest_layers(idx)
        # in-process replay of the fused extract + tokenize layer
        htmls = [_decode(h) for h in
                 pq.read_table(pages, columns=["html"]).column("html").to_pylist()[:300]]
        s = time.perf_counter()
        texts = [document_text(h) for h in htmls]
        t_ex = time.perf_counter() - s
        s = time.perf_counter()
        for x in texts:
            spec.tokenize(x)
        t_tok = time.perf_counter() - s
        layer_sum = sum(m[k] for k in ("tokens_s", "docmap_s", "postings_s", "lexicon_s"))
        out.layers = {
            **{f"index_build.{k}": v for k, v in m.items()},
            "index_build.blocks": tr.index_blocks(idx),
            "catalog.commits": ctx.tracer.n("catalog.commit") / len(res["walls"]),
            "catalog.commit_ms": ctx.tracer.seconds("catalog.commit") / len(res["walls"]) * 1e3,
            "extract.us_per_doc": t_ex / len(htmls) * 1e6,
            "tokenize.us_per_doc": t_tok / len(htmls) * 1e6,
            "residual_share": 1.0 - layer_sum / res["walls"][-1],
            **_trace_common(ctx, res, sum(res["walls"]), len(res["walls"])),
        }
        ctx.tracer.unwrap()
    checks = _count_check(idx, n_en)
    qs = _sample(gen.query_log(ctx.seed, 500), ctx.seed)
    # one mode per run, alternating with the seed, keeps the checks short
    mode = (spec.MODE_DISJUNCTIVE, spec.MODE_CONJUNCTIVE)[ctx.seed % 2]
    checks += _oracle_check(ctx, idx, qs, mode, _spark_topk(ctx, idx, qs, mode))
    out.checks, out.failed = checks, len(checks)
    return out


# --- query_spark -----------------------------------------------------------


def query_spark(ctx: Ctx) -> Outcome:
    from rt_etl_yahoo_search_engine_spark import spec
    from rt_etl_yahoo_search_engine_spark.plans.bm25 import topk

    t = time.perf_counter()
    pages, n_en = _pages(ctx, "pages", QUERY_DOCS)
    idx = os.path.join(ctx.work, "idx")
    _build(ctx, pages, idx)
    drawn = BATCH - len(gen.REFERENCE_QUERIES)
    log = gen.query_log(ctx.seed, 200 * drawn)
    ctx.props.update({f"log_{k}": v for k, v in gen.log_properties(log).items()})
    modes = (spec.MODE_DISJUNCTIVE, spec.MODE_CONJUNCTIVE)

    def batch(tag: str, first: int) -> dict[str, str]:
        """drawn queries log[first:first + drawn], then the reference queries"""
        qs = {f"{tag}_{i}": q for i, q in enumerate(log[first % len(log):][:drawn])}
        return qs | {f"{tag}_r{i}": q for i, q in enumerate(gen.REFERENCE_QUERIES)}

    # untimed batches, both modes: batch walls keep falling over the first
    # few jobs of a session while the JVM compiles the query stages
    for w in range(WARM_BATCHES):
        qs = batch(f"w{w}", len(log) - (w + 1) * drawn)
        topk(ctx.spark, idx, qs, mode=modes[w % 2], k=K).write.mode(
            "overwrite").parquet(os.path.join(ctx.work, "warm_out"))
    setup_s = ctx.session_s + time.perf_counter() - t
    outs = []

    def run_pass() -> dict:
        tracer = ctx.tracer
        walls = []
        t0 = time.time()
        end = time.perf_counter() + ctx.seconds
        b = 0
        while len(walls) < 3 or time.perf_counter() < end:
            qs = batch(f"q{b}", b * drawn)
            mode = modes[b % 2]
            out = os.path.join(ctx.work, f"out{len(outs)}")
            s = time.perf_counter()
            if tracer:
                df = tracer.call("bm25.plan", topk, ctx.spark, idx, qs, mode=mode, k=K)
                tracer.call("bm25.job", df.write.mode("overwrite").parquet, out)
            else:
                topk(ctx.spark, idx, qs, mode=mode, k=K).write.mode(
                    "overwrite").parquet(out)
            walls.append(time.perf_counter() - s)
            outs.append((out, qs, mode))
            b += 1
        return {"walls": walls, "t0": t0, "t1": time.time(),
                "n": len(walls) * BATCH}

    if ctx.trace:
        tr.wrap_query(ctx.tracer)
    res = run_pass()
    out = Outcome(
        setup_s=setup_s,
        throughput=res["n"] / sum(res["walls"]),
        latency_ms=[w * 1e3 for w in res["walls"]],
        index_bytes_per_doc=_dir_bytes(idx) / _live_docs(idx),
        attempted=res["n"],
        timed_s=sum(res["walls"]),
    )
    out.extra["batch_walls_s"] = [round(w, 3) for w in res["walls"]]
    if ctx.trace:
        tc = ctx.tracer
        n = len(res["walls"])
        out.layers = {
            "bm25.plan_ms": tc.seconds("bm25.plan") / n * 1e3,
            "bm25.lexicon_ms": tc.seconds("bm25.lexicon") / n * 1e3,
            "bm25.job_ms": tc.seconds("bm25.job") / n * 1e3,
            "residual_share": 1.0 - (tc.seconds("bm25.plan") + tc.seconds("bm25.job"))
            / sum(res["walls"]),
            **_trace_common(ctx, res, sum(res["walls"]), n),
        }
        tc.unwrap()
    checks = _count_check(idx, n_en)
    # sampled rank identity against the oracle, on the last batch written
    # (its mode alternates with the batch count)
    path, qs, mode = outs[-1]
    got = _rows_by_query(pq.read_table(path).to_pylist())
    keys = {v: k for k, v in qs.items()}
    sub = {keys[q]: q for q in _sample(list(qs.values()), ctx.seed).values() if q in keys}
    checks += _oracle_check(ctx, idx, sub, mode, {q: got.get(q, []) for q in sub})
    out.checks, out.failed = checks, len(checks)
    return out


# --- update_serve ----------------------------------------------------------


def update_serve(ctx: Ctx) -> Outcome:
    from rt_etl_yahoo_search_engine_spark import spec
    from rt_etl_yahoo_search_engine_spark.operators.deletes import delete_docs
    from rt_etl_yahoo_search_engine_spark.operators.index_build import extend_index
    from rt_etl_yahoo_search_engine_spark.operators.topk import BatchScorer
    from rt_etl_yahoo_search_engine_spark.plans.serve import LocalSearcher

    t = time.perf_counter()
    pages, n_en = _pages(ctx, "pages", UPDATE_BASE_DOCS)
    idx = os.path.join(ctx.work, "idx")
    _build(ctx, pages, idx)
    deltas = []
    for c in range(CYCLES + 1):
        fresh = f"fresh{c}zq"  # a token only this cycle's pages carry
        path, n = _pages(ctx, f"delta{c}", DELTA_DOCS, start=10**6 * (c + 1),
                         prefix=f"delta{c}", inject=fresh)
        deltas.append((path, n, fresh))
    qset = gen.query_log(ctx.seed + 2 * 10**6, QSET) + list(gen.REFERENCE_QUERIES)
    # one untimed cycle on a copy: the first extend and delete of a
    # session compile their Spark stages
    warm_idx = os.path.join(ctx.work, "warm_idx")
    shutil.copytree(idx, warm_idx)
    path, _, _ = deltas.pop()
    extend_index(ctx.spark, path, warm_idx, tokenizer="html", url_ordered=True)
    delete_docs(ctx.spark, warm_idx, doc_ids=[0, 1])
    searcher = LocalSearcher(idx, preload=True)
    setup_s = ctx.session_s + time.perf_counter() - t

    def run_pass() -> dict:
        tc = ctx.tracer
        if tc:
            tr.wrap_serve(tc)
            tr.wrap_catalog(tc)
        call = tc.call if tc else (lambda _name, fn, *a, **kw: fn(*a, **kw))
        lat, fresh_ms, cyc, bad = [], [], [], []
        deleted: set[int] = set()
        rng = np.random.default_rng([ctx.seed, 5])
        t0 = time.time()
        for c, (path, n, fresh) in enumerate(deltas):
            n_base = _n_docs(idx)
            s = time.perf_counter()
            call("index_build.extend", extend_index, ctx.spark, path, idx,
                 tokenizer="html", url_ordered=True)
            n_new = _n_docs(idx)
            # a few base docs plus one doc of this delta
            victims = [int(x) for x in rng.choice(n_base, DELETES, replace=False)]
            victims.append(n_base + c % max(1, n_new - n_base))
            call("deletes.delete", delete_docs, ctx.spark, idx, doc_ids=victims)
            deleted.update(victims)
            call("serve.refresh", searcher.refresh)
            hits = searcher.search(fresh, k=K)
            fresh_ms.append((time.perf_counter() - s) * 1e3)
            if not hits or any(d < n_base for _, d, _ in hits):
                bad.append(f"cycle {c}: new docs not visible")
            for q in qset + [fresh]:
                q0 = time.perf_counter()
                got = searcher.search(q, k=K)
                lat.append((time.perf_counter() - q0) * 1e3)
                if any(d in deleted for _, d, _ in got):
                    bad.append(f"cycle {c}: deleted doc returned for {q!r}")
            cyc.append(time.perf_counter() - s)
        return {"lat": lat, "fresh": fresh_ms, "cycles": cyc, "bad": bad,
                "t0": t0, "t1": time.time(), "wall": sum(cyc)}

    res = run_pass()
    n_delta_docs = sum(n for _, n, _ in deltas)
    out = Outcome(
        setup_s=setup_s,
        throughput=n_delta_docs / res["wall"],
        # freshness is the write path's latency; post-refresh query latency
        # swings 20-30% run to run on a shared host, so it is printed only
        latency_ms=res["fresh"],
        index_bytes_per_doc=_dir_bytes(idx) / _live_docs(idx),
        attempted=len(res["lat"]) + 3 * CYCLES,
        timed_s=res["wall"],
    )
    out.extra["query_p50_ms"] = (statistics.median(res["lat"]), len(res["lat"]))
    props = gen.log_properties(qset)
    out.extra.update({f"qset_{k}": v for k, v in props.items()})
    out.extra.update({
        "cycles": CYCLES,
        "delta_docs_per_cycle": DELTA_DOCS,
        "dense_capacity_terms": BatchScorer.DENSE_BUDGET_BYTES // (8 * searcher.n_docs),
        "postings_cache_capacity_terms": searcher._postings_cache_max,
    })
    if ctx.trace:
        tc = ctx.tracer
        from rt_etl_yahoo_search_engine_spark.sources.catalog import Catalog

        out.layers = {
            "index_build.extend_s": tc.seconds("index_build.extend") / CYCLES,
            "deletes.delete_s": tc.seconds("deletes.delete") / CYCLES,
            "serve.refresh_ms": tc.seconds("serve.refresh") / CYCLES * 1e3,
            "catalog.segments": len(Catalog(idx).read_registry()["segments"]),
            "catalog.commits": tc.n("catalog.commit") / CYCLES,
            "catalog.commit_ms": tc.seconds("catalog.commit") / CYCLES * 1e3,
            **_serve_layers(tc, len(res["lat"]), searcher),
            "residual_share": 1.0 - sum(tc.seconds(x) for x in (
                "index_build.extend", "deletes.delete", "serve.refresh",
                "serve.lexicon", "serve.postings", "topk.score")) / res["wall"],
            **_trace_common(ctx, res, res["wall"], CYCLES),
        }
        tc.unwrap()
    checks = list(res["bad"])
    checks += _count_check(idx, n_en + n_delta_docs)
    sub = _sample(qset, ctx.seed, 8)
    got = {qid: [(d, s) for _, d, s in searcher.search(q, k=K)] for qid, q in sub.items()}
    checks += _same(got, _spark_topk(ctx, idx, sub, spec.MODE_DISJUNCTIVE),
                    "serve vs Spark topk after updates")
    out.checks, out.failed = checks, len(checks)
    return out


WORKLOADS = {
    "build_html": build_html,
    "query_spark": query_spark,
    "update_serve": update_serve,
}
