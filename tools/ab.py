"""Interleaved A/B runner: time catalog queries against each other, in
this tree or at any git ref.

Arms (two or more, in the order they alternate):

  QUERY          a query of this tree's catalog (__spark_entry__.queries())
  REF:QUERY      the same catalog at git ref REF; the tree is extracted with
                 `git archive REF | tar -x` into a temp dir outside the repo
                 and removed on exit (.git is only read)
  FILE.py:FUNC   an uncommitted experiment, FUNC(spark, sf_dir) -> DataFrame,
                 run against this tree's package

Each tree gets one long-lived worker process holding one session.get_spark
session, so arms of one tree alternate inside one session; arms of
different trees alternate across workers, and only one worker runs a
request at a time.  A worker imports only __spark_entry__ and the package
of its own tree.

Before any timing, every arm's collected rows must equal the first arm's
(column set plus verify_local.rows_multiset); a mismatch exits 1.  Then
each arm gets one untimed warm-up, then --reps rounds run every arm once
into the noop sink (plan construction included).  Each rep records its
wall and the host steal share over it (bench.cpu_sample/cpu_delta_pct).

Usage:
  python tools/ab.py [--sf DIR] [--reps N] ARM ARM [ARM ...]
  python tools/ab.py --reps 7 27c06c4:sk04_theta_a_not_b sk04_theta_a_not_b

A form that no commit holds (say a rejected experiment preserved in a
since-deleted file) runs as a FILE arm:
  git show REF:tools/old.py > /tmp/old.py
  python tools/ab.py /tmp/old.py:alt_form shipped_query
"""

from __future__ import annotations

import argparse
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker(tree: str) -> None:
    """Serve (op, arm, sf_dir) requests from stdin until EOF or None."""
    reply = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)  # JVM and library output must not reach the reply stream
    sys.path[0] = tree  # this tree's package, never the harness's

    import importlib.util

    import __spark_entry__
    from youtube_data_lakehouse_and_analysis_spark.session import get_spark

    queries = __spark_entry__.queries()
    spark = get_spark("ab")
    spark.sparkContext.setLogLevel("ERROR")

    mods: dict = {}

    def resolve(arm):
        if arm[0] == "query":
            if arm[1] not in queries:
                raise LookupError(f"no query {arm[1]!r} in {tree}")
            return queries[arm[1]]
        path, func = arm[1], arm[2]
        if path not in mods:
            name = os.path.splitext(os.path.basename(path))[0]
            spec = importlib.util.spec_from_file_location(name, path)
            mods[path] = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mods[path])
        return getattr(mods[path], func)

    def send(msg) -> None:
        pickle.dump(msg, reply)
        reply.flush()

    send(("ok", None))
    stdin = sys.stdin.buffer
    while True:
        try:
            req = pickle.load(stdin)
        except EOFError:
            break
        if req is None:
            break
        op, arm, sf_dir = req
        try:
            fn = resolve(arm)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            if op == "rows":
                send(("ok", (df.columns, [tuple(r) for r in df.collect()])))
            else:
                df.write.mode("overwrite").format("noop").save()
                send(("ok", time.perf_counter() - t0))
        except Exception:  # reported by the parent, which exits
            send(("error", traceback.format_exc()))
    spark.stop()


class Worker:
    """One tree's worker process; request() blocks until it replies."""

    def __init__(self, tree: str, label: str):
        self.label = label
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--worker", tree],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            cwd=tree,
        )
        self._read()  # session up

    def _read(self):
        try:
            status, payload = pickle.load(self.proc.stdout)
        except EOFError:
            raise SystemExit(f"worker for {self.label} died (exit {self.proc.wait()})")
        if status != "ok":
            raise SystemExit(f"worker for {self.label}: {payload}")
        return payload

    def request(self, op: str, arm: tuple, sf_dir: str):
        pickle.dump((op, arm, sf_dir), self.proc.stdin)
        self.proc.stdin.flush()
        return self._read()

    def close(self) -> None:
        try:
            pickle.dump(None, self.proc.stdin)
            self.proc.stdin.close()
            self.proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait()


def parse_arm(spec: str) -> tuple[str | None, tuple]:
    """-> (git ref or None for this tree, arm key sent to the worker)."""
    head, sep, tail = spec.rpartition(":")
    if not sep:
        return None, ("query", spec)
    if head.endswith(".py"):
        return None, ("file", os.path.abspath(head), tail)
    return head, ("query", tail)


def extract(sha: str, dest: str) -> None:
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait():
        raise SystemExit(f"git archive {sha} failed")


def run(arms: list[str], sf_dir: str, reps: int) -> None:
    from bench import cpu_delta_pct, cpu_sample
    from verify_local import rows_multiset

    parsed = [parse_arm(a) for a in arms]
    shas = {}
    for ref in dict.fromkeys(r for r, _ in parsed if r is not None):
        rev = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--verify", f"{ref}^{{commit}}"],
            capture_output=True,
            text=True,
        )
        if rev.returncode:
            raise SystemExit(f"unknown git ref {ref!r}")
        shas[ref] = rev.stdout.strip()

    workers: dict[str | None, Worker] = {}
    tmpdirs: list[str] = []
    try:
        for ref, _ in parsed:
            key = shas.get(ref)
            if key in workers:
                continue
            if key is None:
                tree, label = ROOT, "working tree"
            else:
                tree = tempfile.mkdtemp(prefix="ab-")
                tmpdirs.append(tree)
                extract(key, tree)
                label = f"{ref} ({key[:7]})"
            print(f"worker: {label} at {tree}", flush=True)
            workers[key] = Worker(tree, label)
        plan = [(spec, workers[shas.get(ref)], arm) for spec, (ref, arm) in zip(arms, parsed)]

        first = None
        for spec, w, arm in plan:
            cols, rows = w.request("rows", arm, sf_dir)
            got = (sorted(cols), rows_multiset(cols, rows))
            if first is None:
                first = got
            elif got != first:
                raise SystemExit(
                    f"row identity FAILED: {spec} ({len(rows)} rows, {got[0]}) "
                    f"!= {arms[0]} ({len(first[1])} rows, {first[0]})"
                )
        print(f"row identity OK ({len(first[1])} rows)", flush=True)
        del first  # the canonical rows can be large; free them before timing

        for _, w, arm in plan:
            w.request("time", arm, sf_dir)
        walls = {spec: [] for spec in arms}
        steal = {spec: [] for spec in arms}
        for _ in range(reps):
            for spec, w, arm in plan:
                c0 = cpu_sample()
                walls[spec].append(w.request("time", arm, sf_dir))
                steal[spec].append(cpu_delta_pct(c0, cpu_sample()).get("steal_pct", 0.0))
    finally:
        for w in workers.values():
            w.close()
        for d in tmpdirs:
            shutil.rmtree(d, ignore_errors=True)

    base = statistics.median(walls[arms[0]])
    for spec in arms:
        med = statistics.median(walls[spec])
        print(
            f"{spec}: median {med:.3f}s ({med / base:.3f}x)  reps="
            + "/".join(f"{x:.3f}" for x in walls[spec])
            + "  steal%="
            + "/".join(f"{x:.2f}" for x in steal[spec]),
            flush=True,
        )


def main() -> None:
    if sys.argv[1:2] == ["--worker"]:
        return _worker(sys.argv[2])
    sys.path.insert(0, ROOT)
    from youtube_data_lakehouse_and_analysis_spark.session import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("arms", nargs="+", metavar="ARM")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR, help="testdata scale dir")
    ap.add_argument("--reps", type=int, default=7)
    a = ap.parse_args()
    if len(set(a.arms)) != len(a.arms) or len(a.arms) < 2:
        ap.error("need at least two distinct arms")
    run(a.arms, a.sf, a.reps)


if __name__ == "__main__":
    main()
