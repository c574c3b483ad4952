"""Measurement helpers: spans, process-tree CPU and memory, Spark event-log
aggregation and Catalyst phase times.

Nothing here changes what the program does. Spans are recorded by the
benchmark around its calls into the program's modules; the event log and
the Catalyst phase tracker are Spark's own instrumentation.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans: (name, start, end, parent index). Disabled tracers
    record nothing and cost one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: summed duration, summed self time (duration minus
        the union of its children's intervals) and count."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            covered, last = 0.0, s["start"]
            for a, b in sorted(children.get(i, [])):
                a = max(a, last)
                if b > a:
                    covered += b - a
                    last = b
            t = out.setdefault(s["name"], {"s": 0.0, "self_s": 0.0, "n": 0})
            t["s"] += dur
            t["self_s"] += dur - covered
            t["n"] += 1
        return out


# ------------------------------------------------------------- process tree


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of this process and every descendant, including the
    reaped children each one has waited for (this Python process, JVM, Python
    workers)."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# --------------------------------------------------------- CPU calibration


def calibrate_cpu(n_threads: int, mb: int = 32) -> dict[str, float]:
    """Fixed-work hashing, once on one thread and once on ``n_threads``
    threads at the same time (hashlib releases the interpreter lock on
    large buffers). A host clock or co-tenancy shift shows as a change in
    these walls, independent of the program under test."""
    buf = bytes(range(256)) * (mb * 4096)

    def work() -> None:
        hashlib.sha256(buf).digest()

    t0 = time.perf_counter()
    work()
    single = time.perf_counter() - t0
    threads = [threading.Thread(target=work) for _ in range(n_threads)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    allcore = time.perf_counter() - t0
    return {
        "single_thread_s": round(single, 4),
        "all_core_s": round(allcore, 4),
        "all_core_speedup": round(n_threads * single / allcore, 3) if allcore else 0.0,
    }


# ------------------------------------------------------------------- JVM


def jvm_jit_gc_s(spark) -> tuple[float, float]:
    """Cumulative seconds the driver JVM has spent compiling (JIT) and
    collecting garbage, from its management beans. Differenced across a
    pass they show whether the JIT is still compiling."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    jit_ms = mf.getCompilationMXBean().getTotalCompilationTime()
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return jit_ms / 1000.0, gc_ms / 1000.0


# --------------------------------------------------------------- Catalyst


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning seconds of ``df``'s own query
    execution. Optimization and planning are forced here, so the call
    itself costs about what it reports (counted as tracing overhead)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


# -------------------------------------------------------------- event log


def _empty_exec() -> dict[str, float]:
    return {
        "jobs": 0,
        "job_s": 0.0,
        "stages": 0,
        "tasks": 0,
        "task_run_s": 0.0,
        "task_cpu_s": 0.0,
        "gc_s": 0.0,
        "scheduler_delay_s": 0.0,
        "input_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "spill_mb": 0.0,
        "failed_tasks": 0,
    }


def read_event_logs(log_dir: str) -> dict[str, dict[str, float]]:
    """Aggregate every event log under ``log_dir`` by job group: job count
    and summed job time, completed stages, and summed task metrics. Jobs
    without a group land under the empty group ``""``."""
    groups: dict[str, dict[str, float]] = defaultdict(_empty_exec)
    if not os.path.isdir(log_dir):
        return {}
    for fname in sorted(os.listdir(log_dir)):
        stage_group: dict[int, str] = {}
        job_group: dict[int, str] = {}
        job_start: dict[int, int] = {}
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    job_group[ev["Job ID"]] = g
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    groups[g]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_start:
                        groups[job_group[jid]]["job_s"] += (
                            ev["Completion Time"] - job_start[jid]
                        ) / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    groups[stage_group.get(sid, "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = groups[stage_group.get(ev["Stage ID"], "")]
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    if info.get("Failed") or (ev.get("Task End Reason") or {}).get(
                        "Reason"
                    ) not in (None, "Success"):
                        g["failed_tasks"] += 1
                    run_ms = m.get("Executor Run Time", 0)
                    g["task_run_s"] += run_ms / 1000.0
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    delay = (
                        duration
                        - run_ms
                        - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0)
                        - (
                            info.get("Finish Time", 0) - info["Getting Result Time"]
                            if info.get("Getting Result Time")
                            else 0
                        )
                    )
                    g["scheduler_delay_s"] += max(0, delay) / 1000.0
                    g["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / 2**20
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    g["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
    return dict(groups)


def sum_groups(groups: dict[str, dict[str, float]], keep) -> dict[str, float]:
    """Sum the per-group records whose group id satisfies ``keep``."""
    out = _empty_exec()
    for g, rec in groups.items():
        if keep(g):
            for k, v in rec.items():
                out[k] += v
    return out


def dir_bytes_files(path: str) -> tuple[int, int]:
    """Bytes and count of data files under ``path`` (Spark's hidden
    ``_``/``.`` bookkeeping files excluded)."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files
