"""Outside-in tracing: one span per public call, attributed through Spark.

A span wraps one call into the engine or the dedup operators.  In a traced
run it tags every Spark job the call starts with ``SparkContext.setJobGroup``
and records the host CPU split from ``/proc/stat`` around it; after the
session stops, the uncompressed event log is parsed and each job's stages,
tasks, executor CPU, GC, shuffle and spill are credited to the span whose
group id the job carried.  An untraced run records only wall times.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import time

_CLK = os.sysconf("SC_CLK_TCK")
# /proc/stat "cpu" line field order
_STAT_FIELDS = ("user", "nice", "sys", "idle", "iowait", "irq", "softirq", "steal")


def proc_stat() -> dict:
    with open("/proc/stat") as f:
        vals = f.readline().split()[1 : 1 + len(_STAT_FIELDS)]
    return {k: int(v) / _CLK for k, v in zip(_STAT_FIELDS, vals)}


def host_delta(a: dict, b: dict) -> dict:
    return {
        "user_s": (b["user"] + b["nice"]) - (a["user"] + a["nice"]),
        "sys_s": (b["sys"] + b["irq"] + b["softirq"]) - (a["sys"] + a["irq"] + a["softirq"]),
        "steal_s": b["steal"] - a["steal"],
        "iowait_s": b["iowait"] - a["iowait"],
        "idle_s": b["idle"] - a["idle"],
    }


class Tracer:
    """Keeps spans in memory; ``traced`` turns on job tagging and
    ``/proc/stat`` sampling."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.sc = None
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "id": f"{name}#{len(self.spans)}", "failed": 1}
        if self.traced and self.sc is not None:
            self.sc.setJobGroup(rec["id"], name)
        s0 = proc_stat() if self.traced else None
        rec["start"] = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
            rec["failed"] = 0
        finally:
            rec["wall_s"] = time.perf_counter() - p0
            rec["end"] = rec["start"] + rec["wall_s"]
            if self.traced:
                rec["host"] = host_delta(s0, proc_stat())
                if self.sc is not None:
                    self.sc.setJobGroup("", "")
            self.spans.append(rec)


# ------------------------------------------------------------ event log


def _event_files(log_dir: str) -> list[str]:
    """Rolling logs (``eventlog_v2_*/events_<n>_*``) in index order, else
    plain single-file logs."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))


def _new_group() -> dict:
    return {
        "jobs": 0,
        "job_spans": [],
        "tasks": 0,
        "executor_cpu_s": 0.0,
        "executor_run_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
    }


def parse_event_log(log_dir: str) -> dict:
    """{job group id (``""`` for untagged work): aggregated job/task
    metrics}.  Stages are mapped to a group by the properties they were
    submitted with, falling back to the job that listed them."""
    groups: dict = {}
    stage_group: dict = {}
    job_group: dict = {}
    job_submit: dict = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jid = ev["Job ID"]
                    job_group[jid] = gid
                    job_submit[jid] = ev.get("Submission Time")
                    groups.setdefault(gid, _new_group())["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    gid = job_group.get(jid, "")
                    if job_submit.get(jid) is not None and ev.get("Completion Time") is not None:
                        groups.setdefault(gid, _new_group())["job_spans"].append(
                            (job_submit[jid] / 1e3, ev["Completion Time"] / 1e3)
                        )
                elif kind == "SparkListenerStageSubmitted":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid is not None:
                        stage_group[ev["Stage Info"]["Stage ID"]] = gid
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    g = groups.setdefault(stage_group.get(ev["Stage ID"], ""), _new_group())
                    g["tasks"] += 1
                    g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics", {})
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    g["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return groups


def _covered(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


SPAN_FIELDS = (
    "calls", "failed", "wall_p50_s", "wall_sum_s", "driver_s", "spark_jobs",
    "tasks", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
    "host_user_s", "host_sys_s", "host_steal_s", "host_iowait_s", "host_idle_s",
)


def attribute(spans: list[dict], groups: dict) -> tuple[dict, dict]:
    """Per span name: the ``SPAN_FIELDS`` aggregates over its calls, plus
    the run totals (executor CPU seen in the log, and the share of it that
    landed in a named span)."""
    out: dict = {}
    for s in spans:
        a = out.setdefault(s["name"], {k: 0 for k in SPAN_FIELDS} | {"_walls": []})
        g = groups.get(s["id"], _new_group())
        a["calls"] += 1
        a["failed"] += s["failed"]
        a["_walls"].append(s["wall_s"])
        a["driver_s"] += s["wall_s"] - _covered(g["job_spans"], s["start"], s["end"])
        a["spark_jobs"] += g["jobs"]
        for k in ("tasks", "executor_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            a[k] += g[k]
        for k, v in s.get("host", {}).items():
            a["host_" + k] += v
        for k, v in s.get("attrs", {}).items():
            a[k] = a.get(k, 0) + v
    for a in out.values():
        walls = a.pop("_walls")
        a["wall_p50_s"] = statistics.median(walls)
        a["wall_sum_s"] = sum(walls)
    named = {s["id"] for s in spans}
    cpu_total = sum(g["executor_cpu_s"] for g in groups.values())
    cpu_named = sum(g["executor_cpu_s"] for gid, g in groups.items() if gid in named)
    totals = {
        "executor_cpu_s": cpu_total,
        "cpu_attributed_share": cpu_named / cpu_total if cpu_total > 0 else 1.0,
        "untagged_jobs": sum(g["jobs"] for gid, g in groups.items() if gid not in named),
    }
    return out, totals


# ------------------------------------------------------------ memory


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (the JVM's Python daemon and its
    forked workers)."""
    children: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids`` and of every child they have
    reaped.  Stolen time is not in it, so it holds still when other
    machines' load slows the wall clock."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / _CLK


def peak_rss_mb(jvm_pid: int) -> dict:
    """VmHWM, in MB, of the JVM, summed over every live process under it
    (the Python daemon and workers), and the largest single one of those."""
    kids = [_vm_hwm_kb(p) / 1024.0 for p in descendants(jvm_pid)]
    return {
        "jvm": _vm_hwm_kb(jvm_pid) / 1024.0,
        "workers": sum(kids),
        "max_worker": max(kids, default=0.0),
        "processes": len(kids),
    }
