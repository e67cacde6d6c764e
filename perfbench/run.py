"""The repo benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload knn_serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The package is imported from the
checkout, every file the run makes goes under ``.bench_work/`` there, and
the last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, measured untraced.
``--trace 1`` turns on job tagging and the Spark event log and reports the
per-layer metrics instead.  The line before the result carries the detail:
the environment, every repetition's time, the workload's own named metrics
and, in a traced run, the full per-span breakdown.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CPUS = 2

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "worker_peak_rss_mb": "MB",
    "recall": "ratio",
}

SPANS = (
    "session.get_spark",
    "engine.add",
    "engine.warm",
    "engine.search_flat.flat",
    "engine.search_flat.ivf",
    "engine.search_filter",
    "engine.search",
    "engine.search_flat.bulk",
    "engine.save",
    "engine.load",
    "operators.dedup.exact_dedup",
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.jaccard_verify_pairs",
    "operators.dedup.cosine_lsh_pairs",
    "operators.dedup.neardup_survivors",
)
SPAN_METRICS = {
    "calls": "count",
    "wall_p50_s": "s",
    "wall_sum_s": "s",
    "driver_s": "s",
    "spark_jobs": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
}
EXTRA_LAYER = {
    "engine.search_flat.driver_share": "ratio",
    "engine.search_flat.bulk.shuffle_read_bytes": "B",
    "engine.search_flat.bulk.shuffle_write_bytes": "B",
    "engine.search_flat.bulk.shuffle_bytes_per_corpus_byte": "ratio",
    "engine.add.gc_s": "s",
    "engine.add.shuffle_write_bytes": "B",
    "engine.save.bytes_written": "B",
    "operators.dedup.shuffle_write_bytes": "B",
    "operators.dedup.candidates_per_verified": "ratio",
    "trace.executor_cpu_s": "s",
    "trace.cpu_attributed_share": "ratio",
    "trace.host_user_s": "s",
    "trace.host_sys_s": "s",
    "trace.host_steal_s": "s",
}


def per_layer_units() -> dict:
    units = {f"{s}.{m}": u for s in SPANS for m, u in SPAN_METRICS.items()}
    units.update(EXTRA_LAYER)
    return units


def environment(work: str) -> dict:
    """Set the session's environment from outside the package and return
    what was set and found.  ``get_spark`` defaults to 32 cores and a 48g
    heap; this sizes both to the machine.  Spark gets at most
    ``MAX_CPUS`` task slots, so that the JVM's own threads, the client and
    the Python workers do not queue behind its tasks on a small shared
    machine."""
    found = len(os.sched_getaffinity(0))
    cpus = min(found, MAX_CPUS)
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    heap_gb = max(1, min(4, int(mem_gb // 4)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_gb}g"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    return {
        "SPARK_GRAFT_CPUS": cpus,
        "cpus_found": found,
        "SPARK_DRIVER_MEMORY": os.environ["SPARK_DRIVER_MEMORY"],
        "mem_total_gb": round(mem_gb, 1),
        "OMP_NUM_THREADS": os.environ.get("OMP_NUM_THREADS"),
        "OPENBLAS_NUM_THREADS": os.environ.get("OPENBLAS_NUM_THREADS"),
    }


def start_session(work: str, traced: bool):
    from duckdb_faiss_ext_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            }
        )
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, jvm_pid: int) -> None:
    """Stop Spark, shut the JVM down and wait for it and every process
    under it to end."""
    from pyspark import SparkContext

    from tracing import descendants

    kids = descendants(jvm_pid)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in [jvm_pid, *kids]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:  # it ended after the check
                pass


def setup_breakdown(spans: list) -> dict:
    out: dict = {}
    for sp in spans:
        out[sp["name"]] = out.get(sp["name"], 0.0) + sp["wall_s"]
    return out


def layer_metrics(res: dict, spans: dict, totals: dict) -> dict:
    out = {}
    for s in SPANS:
        a = spans.get(s, {})
        for m in SPAN_METRICS:
            out[f"{s}.{m}"] = a.get(m, 0)
    flat = [spans.get(s, {}) for s in ("engine.search_flat.flat", "engine.search_flat.ivf")]
    wall = sum(a.get("wall_sum_s", 0) for a in flat)
    out["engine.search_flat.driver_share"] = sum(a.get("driver_s", 0) for a in flat) / wall if wall else 0.0
    bulk = spans.get("engine.search_flat.bulk", {})
    out["engine.search_flat.bulk.shuffle_read_bytes"] = bulk.get("shuffle_read_bytes", 0)
    out["engine.search_flat.bulk.shuffle_write_bytes"] = bulk.get("shuffle_write_bytes", 0)
    corpus = (res.get("corpus_bytes") or 0) * bulk.get("calls", 0)
    out["engine.search_flat.bulk.shuffle_bytes_per_corpus_byte"] = (
        bulk.get("shuffle_read_bytes", 0) / corpus if corpus else 0.0
    )
    add = spans.get("engine.add", {})
    out["engine.add.gc_s"] = add.get("gc_s", 0)
    out["engine.add.shuffle_write_bytes"] = add.get("shuffle_write_bytes", 0)
    out["engine.save.bytes_written"] = spans.get("engine.save", {}).get("bytes_written", 0)
    out["operators.dedup.shuffle_write_bytes"] = sum(
        a.get("shuffle_write_bytes", 0) for n, a in spans.items() if n.startswith("operators.dedup.")
    )
    out["operators.dedup.candidates_per_verified"] = res.get("candidates_per_verified", 0.0)
    out["trace.executor_cpu_s"] = totals["executor_cpu_s"]
    out["trace.cpu_attributed_share"] = totals["cpu_attributed_share"]
    for k in ("user", "sys", "steal"):
        out[f"trace.host_{k}_s"] = sum(a.get(f"host_{k}_s", 0) for a in spans.values())
    return out


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    if not os.path.isfile(os.path.join(ROOT, "duckdb_faiss_ext_spark", "engine.py")):
        print(f"no duckdb_faiss_ext_spark package under {ROOT}", file=sys.stderr)
        return 2
    from tracing import Tracer, attribute, host_delta, parse_event_log, peak_rss_mb, proc_stat
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    host0 = proc_stat()
    try:
        env = environment(work)
        tracer = Tracer(bool(args.trace))
        with tracer.span("session.get_spark"):
            spark = start_session(work, bool(args.trace))
        tracer.sc = spark.sparkContext
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        try:
            ctx = Ctx(spark, tracer, work, args.seed, args.seconds, jvm_pid)
            res = WORKLOADS[args.workload](ctx)
            rss = peak_rss_mb(jvm_pid)
        finally:
            stop_session(spark, jvm_pid)
        setup_s = res["setup_done"] - t_start
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": res["op_p50_s"],
            "worker_peak_rss_mb": rss["max_worker"],
            "recall": res["recall"],
        }
        named = {k: {"value": v, "unit": u} for k, (v, u) in res["detail"].items()}
        named["setup_s"] = {"value": setup_s, "unit": "s"}
        named["op_cpu_s"] = {"value": statistics.median(res["cpu_samples"]), "unit": "s"}
        named["peak_rss_mb"] = {"value": rss["jvm"] + rss["workers"], "unit": "MB"}
        named["failed_frac"] = {"value": ctx.failed / max(ctx.attempted, 1), "unit": "ratio"}
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "env": env,
            "sizes": res["sizes"],
            "rss_mb": rss,
            # the whole machine's CPU over the run: steal shows contention
            # from outside this process tree
            "host_cpu_s": host_delta(host0, proc_stat()),
            "named_metrics": named,
            "tail": res.get("tail"),
            "repetitions": res["repetitions"],
            # where set-up time went: wall seconds per span name
            "setup_calls_s": setup_breakdown(tracer.spans[: ctx.setup_calls]),
            "problems": ctx.problems[:20],
        }
        # a traced run states its overhead against the last untraced run of
        # the same workload in this checkout
        last = os.path.join(base, f"last-untraced-{args.workload}.json")
        if args.trace:
            spans, totals = attribute(tracer.spans, parse_event_log(os.path.join(work, "eventlog")))
            metrics = layer_metrics(res, spans, totals)
            units = per_layer_units()
            detail["spans"] = spans
            detail["trace_totals"] = totals
            detail["traced_end_to_end"] = e2e
            if os.path.exists(last):
                with open(last) as f:
                    prev = json.load(f)
                detail["trace_overhead"] = {
                    k: {"traced": e2e[k], "untraced": prev[k], "delta": e2e[k] - prev[k]}
                    for k in e2e
                    if k in prev
                }
            else:
                detail["trace_overhead"] = "no untraced run of this workload recorded yet"
        else:
            metrics, units = e2e, END_TO_END
            with open(last, "w") as f:
                json.dump(e2e, f)
        print(json.dumps(detail, default=str))
        print(
            json.dumps(
                {
                    "correct": ctx.failed == 0,
                    "attempted": ctx.attempted,
                    "failed": ctx.failed,
                    "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
