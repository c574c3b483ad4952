"""Benchmark of the lakehouse engine: one workload per invocation.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 20 --trace 0

Workloads (see workloads.py): ``headline`` and ``lakehouse``.
One process drives one closed-loop client on ``local[<cores>]`` with the
shipped ``session.get_spark`` configuration. Everything runs in sequence:

1. generate the inputs from ``--seed`` with their expected results
   (DuckDB oracle twins, or the generator's truth for ``lakehouse``);
2. calibrate the CPU with fixed work (recorded, not gated);
3. start the JVM (the DuckDB oracle runs meanwhile) and resolve the
   tables on it (untimed);
4. run the untimed pass that checks every output, then the workload's
   untimed warm-up passes;
5. run as many whole timed passes as the workload's nominal pass time
   fits into ``--seconds`` (at least one; three with ``--trace 1``). The
   count is fixed, so every run times the same passes of the same JVM;
6. time ``SETUP_TRIALS`` set-ups, each a fresh Spark session plus (for
   ``headline``) table resolution and layout compaction from an empty
   layout cache; ``setup_s`` is their median.

The driver JVM compiles with C1 only (``JIT_OPTIONS``). With the default
tiered C2 compiler, a JVM this young keeps compiling for longer than a run
lasts: on 4 cores, JIT compilation still took about half of each headline
pass's CPU after a minute of passes, and pass CPU was still falling after
14 passes, so every timed pass sampled a moving trend. With C1 only, JIT
compilation is about a tenth of pass CPU or less from the first timed pass
on; over 20 runs, the first timed pass took a median 3% longer than the
later ones of its run.
Each pass records the JIT compilation and GC seconds of the driver JVM
during it, and the run record compares the last warm-up pass with the
timed ones.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the event log is on, every other pass is traced (spans
around each call into the program, Spark job groups, Catalyst phase
times), and the line carries the per-layer metrics. Passes alternate
untraced, traced, untraced, so a JIT trend cancels out of the tracing
overhead (traced minus untraced pass wall). Every pass, the set-up
trials, the calibration and the host steal share go to the run record
``.perfbench/runs/<workload>-seed<seed>-trace<t>.json``. Pass wall time
rises steeply with hypervisor steal (on a 4-vCPU host, about +40% at 5-10%
steal and nearly x3 at 28%), so the per-pass steal share tells a slow host
from a slow program.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("headline", "lakehouse")
SETUP_TRIALS = 3
CPUS = len(os.sched_getaffinity(0))
# C1 only reaches a steady compiled state within the warm-up; it would also
# shrink the code cache to 48 MB, so keep the tiered default of 240 MB.
JIT_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"

END_TO_END = {
    "setup_s": "s",
    "pass_wall_s": "s",
    "op_wall_geomean_s": "s",
    "pass_cpu_s": "s",
    "storage_ratio": "ratio",
    "ingest_records_per_s": "records/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "catalog.load_s": "s",
    "catalog.bytes_written": "bytes",
    "catalog.files_written": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_job_s": "s",
    "plans.build_self_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.scheduler_delay_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.failed_tasks": "count",
    "sources.read_s": "s",
    "sources.records": "count",
    "bronze.write_s": "s",
    "bronze.bytes": "bytes",
    "bronze.files": "count",
    "silver.migrate_s": "s",
    "silver.bytes": "bytes",
    "silver.files": "count",
    "app.question_build_s": "s",
    "present.collect_s": "s",
    "present.rows": "count",
    "mem.peak_rss_mb": "MB",
    "trace.pass_wall_s": "s",
    "trace.overhead_s": "s",
    "failed_ops_ratio": "ratio",
}
_PROGRAM_FILES = (
    "__spark_entry__.py",
    "bench.py",
    os.path.join("tools", "verify_local.py"),
    os.path.join("youtube_data_lakehouse_and_analysis_spark", "__init__.py"),
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Confine Spark's local and temp dirs to the work dir and let Python UDF
    workers import the program (they inherit PYTHONPATH, not sys.path)."""
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM ignores TMPDIR: keep its temp files in the work dir, without
    # perf data files; and compile with C1 only (see JIT_OPTIONS)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData {JIT_OPTIONS}"
    ).strip()
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)


class Sessions:
    """Starts and stops Spark sessions on one JVM, and ends the JVM."""

    def __init__(self, work: str, trace: bool):
        self.extra = {"spark.ui.showConsoleProgress": "false"}
        if trace:
            self.extra.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = None
        self.proc = None

    def start(self):
        from youtube_data_lakehouse_and_analysis_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", cpus=CPUS, extra_conf=self.extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.proc is None:
            from pyspark import SparkContext

            self.proc = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.proc is not None:
            if self.proc.stdin:
                self.proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                self.proc.wait(timeout=30)
            except Exception:
                self.proc.kill()
                self.proc.wait(timeout=30)
            self.proc = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def timed_passes(seconds: float, nominal_pass_s: float, trace: bool) -> int:
    """How many whole passes fill ``seconds``. The count comes from the
    workload's nominal pass time, not from a measured one: the JIT is still
    speeding passes up, so runs that timed different numbers of passes
    would not be comparable. A traced run needs untraced, traced and
    untraced passes."""
    n = max(1, round(seconds / nominal_pass_s))
    return max(3, n) if trace else n


def failed_ratio(checks: list[dict]) -> float:
    """Checked operations that raised or returned a wrong result, over all
    checked operations."""
    return sum(not c["ok"] for c in checks) / len(checks) if checks else 0.0


class Run:
    def __init__(self, args: argparse.Namespace, work: str):
        import workloads
        from measure import Tracer

        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.wl = workloads.make(args.workload, work, args.seed)
        self.tracer = Tracer(self.trace)
        self.plain = Tracer(False)
        self.sessions = Sessions(work, self.trace)
        self.record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                             "cpus": CPUS, "seconds": args.seconds}
        self.attempted = 0
        self.failed = 0

    @staticmethod
    def _timed(fn):
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, out

    def setup_trials(self) -> list[dict]:
        """SETUP_TRIALS set-ups from the same empty state: a fresh Spark
        session on the running JVM plus the workload's table resolution."""
        trials = []
        for _ in range(SETUP_TRIALS):
            self.wl.reset_state()
            t0 = time.perf_counter()
            spark = self.sessions.start()
            t1 = time.perf_counter()
            info = self.wl.setup(spark)
            t2 = time.perf_counter()
            trials.append({"session_s": t1 - t0, "resolve_s": t2 - t1, "setup_s": t2 - t0, **info})
        return trials

    def one_pass(self, index: int, tracer) -> dict:
        import bench
        from measure import jvm_jit_gc_s, tree_cpu_s

        spark = self.sessions.spark
        (jit0, gc0), c0, cpu0 = jvm_jit_gc_s(spark), bench.cpu_sample(), tree_cpu_s()
        t0 = time.perf_counter()
        res = self.wl.run_pass(spark, index, tracer)
        wall = time.perf_counter() - t0
        cpu1, c1, (jit1, gc1) = tree_cpu_s(), bench.cpu_sample(), jvm_jit_gc_s(spark)
        res.update(
            index=index,
            traced=tracer.enabled,
            wall_s=wall,
            cpu_s=cpu1 - cpu0,
            jit_s=jit1 - jit0,
            gc_s=gc1 - gc0,
            host=bench.cpu_delta_pct(c0, c1),
        )
        self.attempted += res["attempted"]
        self.failed += len(res["failed"])
        return res

    def execute(self) -> dict:
        import bench
        from measure import calibrate_cpu, tree_peak_rss_mb
        from workloads import WARMUP_INDEX

        rec = self.record
        rec["generate_s"], rec["inputs"] = self._timed(self.wl.generate)
        rec["calibration_before"] = calibrate_cpu(CPUS)
        rec["env_before"] = bench.load_snapshot()
        # DuckDB releases the interpreter lock, so the oracle runs while
        # the JVM starts; neither is timed.
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(self._timed, self.wl.compute_oracle)
            rec["jvm_launch_s"], spark = self._timed(self.sessions.start)
            rec["oracle_s"], _ = oracle.result()
        rec["cold_resolve_s"], _ = self._timed(lambda: self.wl.setup(spark))

        rec["check_s"], checks = self._timed(lambda: self.wl.check(spark))
        rec["checks"] = checks
        self.attempted += len(checks)
        self.failed += sum(not c["ok"] for c in checks)
        warmup = [self.one_pass(WARMUP_INDEX + k, self.plain) for k in range(self.wl.warmup_passes)]

        passes = []
        for k in range(timed_passes(self.args.seconds, self.wl.nominal_pass_s, self.trace)):
            traced = self.trace and k % 2 == 1
            passes.append(self.one_pass(k, self.tracer if traced else self.plain))
        plain = [p for p in passes if not p["traced"]]
        rec["warmup"], rec["passes"] = warmup, passes
        # above 1: the timed passes still ran faster than the last warm-up
        rec["last_warmup_over_timed"] = {
            k: warmup[-1][k] / (_median([p[k] for p in plain]) or float("nan"))
            for k in ("wall_s", "cpu_s", "jit_s")
        } if warmup else {}

        rec["setup_trials"] = trials = self.setup_trials()
        rec["peak_rss_mb"] = tree_peak_rss_mb()
        rec["calibration_after"] = calibrate_cpu(CPUS)
        rec["env_after"] = bench.load_snapshot()
        rec["check_failed_ratio"] = failed_ratio(checks)
        metrics = self.end_to_end(trials, plain) if not self.trace else None
        self.sessions.close()
        if self.trace:
            metrics = self.per_layer(trials, passes, rec)
        return metrics

    # ------------------------------------------------------------- metrics

    def end_to_end(self, trials: list[dict], passes: list[dict]) -> dict[str, float]:
        from workloads import geomean

        wl = self.wl
        op_names = [op for op in wl.ops if all(op in p["ops"] for p in passes)]
        m = {
            "setup_s": _median([t["setup_s"] for t in trials]),
            "pass_wall_s": _median([p["wall_s"] for p in passes]),
            "op_wall_geomean_s": geomean(
                _median([p["ops"][op] for p in passes]) for op in op_names
            ),
            "pass_cpu_s": _median([p["cpu_s"] for p in passes]),
        }
        m["storage_ratio"], m["ingest_records_per_s"] = wl.storage_and_ingest(trials, passes)
        return m

    def per_layer(self, trials: list[dict], passes: list[dict], rec: dict) -> dict[str, float]:
        from measure import read_event_logs, sum_groups

        wl = self.wl
        traced = [p for p in passes if p["traced"]]
        plain = [p for p in passes if not p["traced"]]
        n = len(traced)
        idx = {p["index"] for p in traced}
        tot = self.tracer.totals()
        rec["span_totals"] = tot

        def span_s(name: str) -> float:
            return tot.get(name, {}).get("s", 0.0) / n

        def in_traced(g: str) -> bool:
            parts = g.split("|")
            return len(parts) == 3 and parts[1].isdigit() and int(parts[1]) in idx

        groups = read_event_logs(os.path.join(self.work, "eventlog"))
        rec["event_log_groups"] = len(groups)
        build = sum_groups(groups, lambda g: in_traced(g) and g.startswith("build|"))
        execg = sum_groups(groups, lambda g: in_traced(g) and not g.startswith("build|"))
        m = {
            "session.start_s": _median([t["session_s"] for t in trials]),
            "catalog.load_s": _median([t["resolve_s"] for t in trials]),
            "catalog.bytes_written": _median([t.get("layout_bytes", 0) for t in trials]),
            "catalog.files_written": _median([t.get("layout_files", 0) for t in trials]),
            "plans.build_s": span_s("plans.build"),
            "plans.build_jobs": build["jobs"] / n,
            "plans.build_job_s": build["job_s"] / n,
        }
        m["plans.build_self_s"] = m["plans.build_s"] - m["plans.build_job_s"]
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_s"] = self.tracer.counters[f"catalyst.{phase}_s"] / n
        for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                  "scheduler_delay_s", "input_mb", "shuffle_write_mb", "shuffle_read_mb",
                  "spill_mb", "failed_tasks"):
            m[f"exec.{k}"] = execg[k] / n
        m.update(
            {
                "sources.read_s": span_s("sources.read"),
                "bronze.write_s": span_s("bronze.write"),
                "silver.migrate_s": span_s("silver.migrate"),
                "app.question_build_s": span_s("app.run_question"),
                "present.collect_s": span_s("present.to_display"),
                "present.rows": self.tracer.counters["present.rows"] / n,
                "mem.peak_rss_mb": rec["peak_rss_mb"],
                "trace.pass_wall_s": _median([p["wall_s"] for p in traced]),
                "failed_ops_ratio": self.failed / self.attempted,
            }
        )
        m.update(wl.layer_counts())
        m["trace.overhead_s"] = m["trace.pass_wall_s"] - _median([p["wall_s"] for p in plain])
        return m


def _remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    for d in (os.path.dirname(work), os.path.join(ROOT, "spark-warehouse", "optimized"),
              os.path.join(ROOT, "spark-warehouse")):
        try:
            os.rmdir(d)  # only when empty: never remove what another run left
        except OSError:
            pass


def _wait_children(timeout: float = 30.0) -> None:
    """Wait until every process this run started has ended."""
    from measure import process_tree

    deadline = time.monotonic() + timeout
    while len(process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in process_tree()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = [f for f in _PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    run = None
    try:
        run = Run(args, work)
        metrics = run.execute()
    finally:
        if run is not None:
            run.sessions.close()
            run.wl.cleanup()
        _remove_work(work)
        _wait_children()
    units = PER_LAYER if args.trace else END_TO_END
    rec = run.record
    rec["metrics"] = metrics
    rec["attempted"], rec["failed"] = run.attempted, run.failed
    runs_dir = os.path.join(ROOT, ".perfbench", "runs")
    os.makedirs(runs_dir, exist_ok=True)
    with open(os.path.join(runs_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    line = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
