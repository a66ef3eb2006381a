"""Benchmark entry point for the index build pipeline and BM25 engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: build_html, query_spark, update_serve (see workloads.py and
README.md).  Every metric is printed by name with its
unit and sample count; the last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

The run sizes Spark to the host (``local[nproc]``, driver heap from
MemAvailable), keeps every file it writes under ``.perfbench_work/`` in
the working directory, and removes that directory and stops the Spark JVM
before it exits.  Without the engine package next to it, it exits with
code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "rt_etl_yahoo_search_engine_spark"

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "index_bytes_per_doc": "B",
}
PER_LAYER = {
    "session.start_s": "s",
    "index_build.tokens_s": "s",
    "index_build.docmap_s": "s",
    "index_build.postings_s": "s",
    "index_build.lexicon_s": "s",
    "index_build.postings_rows": "count",
    "index_build.blocks": "count",
    "extract.us_per_doc": "us",
    "tokenize.us_per_doc": "us",
    "catalog.commits": "count",
    "catalog.commit_ms": "ms",
    "spark.cpu_s.index_build": "s",
    "spark.cpu_s.bm25": "s",
    "spark.cpu_s.deletes": "s",
    "spark.cpu_s.other": "s",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "bm25.plan_ms": "ms",
    "bm25.lexicon_ms": "ms",
    "bm25.job_ms": "ms",
    "serve.lexicon_us": "us",
    "serve.lexicon_miss_ratio": "ratio",
    "serve.postings_us": "us",
    "serve.postings_hit_ratio": "ratio",
    "serve.decode_us": "us",
    "codec.decode_us": "us",
    "topk.score_us": "us",
    "topk.sparse_share": "ratio",
    "topk.dense_mb": "MB",
    "index_build.extend_s": "s",
    "deletes.delete_s": "s",
    "serve.refresh_ms": "ms",
    "catalog.segments": "count",
    "trace.residual_share": "ratio",
    "trace.overhead_share": "ratio",
}


def _meminfo_mb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise KeyError(key)


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _tail(samples: list[float]) -> tuple[str, float] | None:
    """Highest of p99.9/p99/p95/p90 with at least ten samples beyond it."""
    n = len(samples)
    for p in (99.9, 99.0, 95.0, 90.0):
        if n * (1 - p / 100) >= 10:
            return f"p{p:g}", statistics.quantiles(samples, n=1000)[int(p * 10) - 1]
    return None


def _setup_env(root: str, work: str, trace: bool, heap_mb: int) -> None:
    """Spark and Python settings applied from outside the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    java = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = java  # the JVM that builds the command
    args = ["--driver-memory", f"{heap_mb}m",
            "--conf", f"spark.driver.extraJavaOptions={java}"]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{events}",
                 "--conf", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _layer_metrics(out, ctx, session_s: float) -> dict:
    import layers

    lay = dict(out.layers)
    spark_src = lay.pop("spark", None)
    vals = {k: 0.0 for k in PER_LAYER}
    vals["session.start_s"] = session_s
    for k, v in lay.items():
        key = k if k in vals else f"trace.{k}"
        if key in vals:
            vals[key] = float(v)
    if spark_src is not None:
        # totals per timed build, batch or cycle: their number depends on
        # the host's speed
        ev_dir, t0, t1, n_ops = spark_src
        sl = layers.spark_layers(ev_dir, ctx.tracer, t0, t1)
        for mod in ("index_build", "bm25", "deletes"):
            vals[f"spark.cpu_s.{mod}"] = sl["cpu_s"].pop(mod, 0.0) / n_ops
        vals["spark.cpu_s.other"] = sum(sl["cpu_s"].values()) / n_ops
        vals["spark.shuffle_mb"] = sl["shuffle_mb"] / n_ops
        vals["spark.spill_mb"] = sl["spill_mb"] / n_ops
        vals["spark.task_skew"] = sl["task_skew"]
    return vals


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_run = time.perf_counter()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    if os.environ.get("PYTHONHASHSEED") != "0":
        # hash-ordered sets and dicts must iterate alike in every run
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__), *argv])
    sys.path[:0] = [root, HERE]

    import layers
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    heap_mb = max(1024, min(4096, _meminfo_mb("MemAvailable") // 4 // 512 * 512))
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        _setup_env(root, work, bool(args.trace), heap_mb)
        import pyspark

        from rt_etl_yahoo_search_engine_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(app="perfbench", master=f"local[{nproc}]",
                          driver_mem=f"{heap_mb}m")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        ctx = workloads.Ctx(work=work, seed=args.seed,
                            seconds=args.seconds, trace=bool(args.trace),
                            spark=spark, session_s=session_s,
                            tracer=layers.Tracer() if args.trace else None,
                            event_dir=os.path.join(work, "events"))
        out = workloads.WORKLOADS[args.workload](ctx)
        jvm = spark.sparkContext._gateway.proc.pid
        rss_mb = _hwm_mb("self") + _hwm_mb(jvm)
        _stop_spark(spark)
        spark = None

        lat = out.latency_ms
        e2e = {
            "setup_s": (out.setup_s, 1),
            "throughput_per_s": (out.throughput, len(lat)),
            "latency_p50_ms": (statistics.median(lat), len(lat)),
            "index_bytes_per_doc": (out.index_bytes_per_doc, 1),
        }
        print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
              f"trace {args.trace}")
        print(f"host nproc {nproc} master local[{nproc}] driver_heap_mb {heap_mb} "
              f"spark {pyspark.__version__} python {sys.version.split()[0]}")
        for k, (v, n) in e2e.items():
            print(f"metric {k} {v:.6g} {END_TO_END[k]} n={n}")
        tail = _tail(lat)
        if tail:
            print(f"metric latency_tail_ms {tail[1]:.6g} ms n={len(lat)} ({tail[0]})")
        print(f"metric rss_mb {rss_mb:.6g} MB n=1 (bench process + Spark JVM VmHWM)")
        for k, v in {**ctx.props, **out.extra}.items():
            if isinstance(v, tuple):  # (value in ms, samples)
                print(f"metric {k} {v[0]:.6g} ms n={v[1]}")
            else:
                print(f"property {k} {v}")
        print(f"ops {out.attempted} failed {out.failed} timed_s {out.timed_s:.3f} "
              f"run_s {time.perf_counter() - t_run:.1f}")
        for msg in out.checks:
            print(f"check FAILED {msg}")
        if args.trace:
            metrics = _layer_metrics(out, ctx, session_s)
            for k, v in metrics.items():
                print(f"layer {k} {v:.6g} {PER_LAYER[k]}")
            result = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in metrics.items()}
        else:
            result = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in e2e.items()}
        print(json.dumps({"correct": not out.checks, "attempted": out.attempted,
                          "failed": out.failed, "metrics": result}), flush=True)
        return 0 if not out.checks else 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
