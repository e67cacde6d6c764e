"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py          # checks only, no Spark (seconds)
    python3 perfbench/selftest.py --full   # plus Spark runs (a few minutes)

Without Spark it shows that the output checks accept a correct result and
reject corrupted ones (shuffled labels, a missing row, decreasing
distances, an answer outside the filter, survivors outside the input), and
that the event-log parser attributes task metrics to the right span.

``--full`` then runs the benchmark end to end:

- one knn_serve run with the engine's answers corrupted (labels shuffled
  inside each query's list), which must report failed > 0;
- an untraced and a traced run of every workload on one seed: the traced
  run must attribute at least 95% of the event log's executor CPU to
  named spans, and states its overhead against the untraced run;
- one long offline_batch run, whose per-job times show any drift within
  a session.  Drift is reported, never asserted away.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from gen import corpus_and_queries  # noqa: E402
from tracing import attribute, parse_event_log  # noqa: E402
from workloads import K, Truth, check_hits  # noqa: E402


def exact_rows(truth: Truth, q: np.ndarray, qids: np.ndarray, mask=None):
    labels, dist = truth.exact(q, mask)
    rows = [(int(qid), r, int(labels[i, r]), float(dist[i, r])) for i, qid in enumerate(qids) for r in range(K)]
    return rows, (labels, dist)


def check_offline() -> list[str]:
    fails = []
    rng = np.random.default_rng(7)
    cs, q = corpus_and_queries(rng, 2_000, 16, 5, 8)
    truth = Truth(cs.labels, cs.x)
    qids = np.arange(5)
    rows, top = exact_rows(truth, q, qids)
    bad, recall = check_hits(rows, qids, q, truth, top, True)
    if bad or recall != 1.0:
        fails.append(f"correct result rejected: {bad}")

    shuffled = list(rows)
    lab = [r[2] for r in shuffled[:K]]
    rng.shuffle(lab)
    shuffled[:K] = [(a, b, l, d) for (a, b, _, d), l in zip(shuffled[:K], lab)]
    corruptions = {
        "shuffled labels": shuffled,
        "missing row": rows[1:],
        "decreasing distances": [(a, K - 1 - b, l, d) for a, b, l, d in rows],
        "foreign label": [(a, b, -5 if i == 0 else l, d) for i, (a, b, l, d) in enumerate(rows)],
    }
    for what, corrupt in corruptions.items():
        if check_hits(corrupt, qids, q, truth, top, True)[0] is None:
            fails.append(f"{what} passed the check")

    mask = np.zeros(len(cs.labels), bool)
    mask[::10] = True
    f_rows, f_top = exact_rows(truth, q, qids, mask)
    if check_hits(f_rows, qids, q, truth, f_top, True, mask)[0] is not None:
        fails.append("correct filtered result rejected")
    if check_hits(rows, qids, q, truth, f_top, True, mask)[0] is None:
        fails.append("unfiltered answer passed the filter check")
    return fails


def check_parser() -> list[str]:
    """A hand-written event log with two tagged jobs and one untagged."""
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "a#0"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "a#0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor CPU Time": 3e9,
         "JVM GC Time": 100, "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000, "Stage IDs": [1],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor CPU Time": 1e9}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2100},
    ]
    with tempfile.TemporaryDirectory() as d:
        os.makedirs(os.path.join(d, "eventlog_v2_app"))
        with open(os.path.join(d, "eventlog_v2_app", "events_1_app"), "w") as f:
            f.write("\n".join(json.dumps(e) for e in events) + "\n")
        groups = parse_event_log(d)
    spans = [{"name": "a", "id": "a#0", "start": 0.9, "end": 1.9, "wall_s": 1.0, "failed": 0}]
    per, totals = attribute(spans, groups)
    a = per["a"]
    fails = []
    if (a["spark_jobs"], a["tasks"], a["executor_cpu_s"], a["shuffle_write_bytes"]) != (1, 1, 3.0, 10):
        fails.append(f"parser attributed {a}")
    if abs(a["driver_s"] - 0.5) > 1e-9:
        fails.append(f"driver_s {a['driver_s']} != 0.5")
    if abs(totals["cpu_attributed_share"] - 0.75) > 1e-9 or totals["untagged_jobs"] != 1:
        fails.append(f"totals {totals}")
    return fails


def bench(*args: str, corrupt: bool = False) -> tuple[dict, dict]:
    """One benchmark run in a fresh process; returns (detail, result)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), *args]
    if corrupt:
        cmd = [sys.executable, os.path.abspath(__file__), "--corrupt-child", *args]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=900, cwd=os.path.dirname(HERE))
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{cmd} exited {out.returncode}: {out.stderr[-2000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def corrupt_child(argv: list[str]) -> int:
    """run.py with every flat search answer's labels shuffled per query."""
    import run
    import workloads

    honest = workloads.flat_rows

    def shuffled(df):
        rows = honest(df)
        rng = np.random.default_rng(0)
        out = []
        for s in range(0, len(rows), K):
            block = rows[s : s + K]
            labels = [r[2] for r in block]
            rng.shuffle(labels)
            out += [(a, b, l, d) for (a, b, _, d), l in zip(block, labels)]
        return out

    workloads.flat_rows = shuffled
    return run.main(argv)


def check_full(seed: int) -> list[str]:
    fails = []
    common = ["--seed", str(seed), "--seconds", "5"]
    _, res = bench("--workload", "knn_serve", *common, "--trace", "0", corrupt=True)
    print(f"corrupted knn_serve: attempted {res['attempted']} failed {res['failed']}")
    if res["failed"] == 0:
        fails.append("corrupted knn_serve reported no failure")
    for w in ("offline_batch", "knn_serve"):
        _, plain = bench("--workload", w, *common, "--trace", "0")
        detail, traced = bench("--workload", w, *common, "--trace", "1")
        share = traced["metrics"]["trace.cpu_attributed_share"]["value"]
        over = {k: round(v["delta"], 4) for k, v in detail["trace_overhead"].items()}
        print(f"{w}: failed {plain['failed']}/{plain['attempted']}, cpu attributed {share:.4f}, "
              f"traced-untraced {over}")
        if plain["failed"] or traced["failed"]:
            fails.append(f"{w} failed operations: {plain['failed']} / {traced['failed']}")
        if share < 0.95:
            fails.append(f"{w}: only {share:.3f} of executor CPU attributed to spans")
    detail, _ = bench("--workload", "offline_batch", "--seed", str(seed), "--seconds", "60", "--trace", "0")
    print(f"offline_batch warm-up job in one session: {detail['repetitions']['warmup_job_s']:.2f}")
    for k in ("job_s", "build_s", "bulk_s", "dedup_pass_s"):
        print(f"offline_batch {k} in one session: {[round(t, 2) for t in detail['repetitions'][k]]}")
    return fails


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--corrupt-child":
        return corrupt_child(sys.argv[2:])
    fails = check_offline() + check_parser()
    print("checks and parser:", "ok" if not fails else fails)
    if "--full" in sys.argv:
        fails += check_full(seed=11)
    print("selftest", "FAILED: " + "; ".join(fails) if fails else "passed")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
