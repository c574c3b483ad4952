"""Tests of the benchmark harness itself (no Spark session is started).

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_geomean_on_known_inputs():
    assert workloads.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    assert workloads.geomean([2.5]) == pytest.approx(2.5)
    with pytest.raises(ValueError):
        workloads.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        workloads.geomean([])


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


@pytest.mark.parametrize("kind", ["warehouse", "api"])
def test_generator_is_deterministic_per_seed(tmp_path, kind):
    def write(seed: int, name: str) -> str:
        out = str(tmp_path / name)
        if kind == "warehouse":
            gen.write_warehouse(out, seed, 0.001)
        else:
            gen.write_api_pages(out, seed, 4, 30)
        return out

    assert _same_tree(write(7, "a"), write(7, "b"))
    assert not _same_tree(write(7, "c"), write(8, "d"))


def test_api_truth_matches_pages(tmp_path):
    truth = gen.write_api_pages(str(tmp_path), 3, 5, 40)
    assert len(truth["videos"]) == 40
    assert sum(c["uploads"] for c in truth["channels"]) == 40
    assert any(v["likes"] is None for v in truth["videos"])  # hidden like counts
    tokens = 0
    for name in os.listdir(tmp_path / "comments"):
        with open(tmp_path / "comments" / name) as fh:
            tokens += "nextPageToken" in json.load(fh)
    assert tokens > 0  # comment threads span several pages


class _FakeDF:
    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def _planted(tmp_path) -> workloads.QueryWorkload:
    good, wrong, raises = workloads.bench.HEADLINE[:3]
    wl = workloads.QueryWorkload("t", [good, wrong, raises], str(tmp_path), 1, 1.0)
    rows = [(1, "a"), (2, "b")]
    cols = ["k", "v"]
    wl.fns = {
        good: lambda spark, d: _FakeDF(cols, list(rows)),
        wrong: lambda spark, d: _FakeDF(cols, [(1, "a"), (2, "WRONG")]),  # planted
        raises: lambda spark, d: 1 / 0,
    }
    wl.expected = {op: (sorted(cols), workloads.rows_multiset(cols, rows)) for op in wl.ops}
    return wl


def test_timed_pass_count_is_fixed_by_seconds():
    assert run.timed_passes(12, 6.0, trace=False) == 2
    assert run.timed_passes(12, 10.0, trace=False) == 1
    assert run.timed_passes(1, 10.0, trace=False) == 1
    assert run.timed_passes(12, 6.0, trace=True) == 3


def test_planted_wrong_answer_counts_as_failed(tmp_path):
    checks = _planted(tmp_path).check(spark=None)
    assert [c["ok"] for c in checks] == [True, False, False]
    assert run.failed_ratio(checks) == pytest.approx(2 / 3)
    assert run.failed_ratio(checks[:1]) == 0.0


def test_tracer_self_time_excludes_children():
    t = measure.Tracer(True)
    t.spans = [
        {"name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"name": "build", "parent": 0, "start": 1.0, "end": 4.0},
        {"name": "exec", "parent": 0, "start": 3.0, "end": 6.0},
    ]
    tot = t.totals()
    assert tot["op"]["s"] == pytest.approx(10.0)
    assert tot["op"]["self_s"] == pytest.approx(5.0)  # children cover 1..6
    assert tot["build"]["self_s"] == pytest.approx(3.0)
    disabled = measure.Tracer(False)
    with disabled.span("x"):
        pass
    assert disabled.spans == []


def test_event_log_aggregation_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "build|0|q"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Launch Time": 1000, "Finish Time": 1500, "Getting Result Time": 0},
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 3e8,
                          "Executor Deserialize Time": 50, "Result Serialization Time": 0,
                          "JVM GC Time": 10, "Input Metrics": {"Bytes Read": 2**20},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**21}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
    ]
    with open(tmp_path / "app-1", "w") as fh:
        fh.write("\n".join(json.dumps(e) for e in events) + "\n")
    g = measure.read_event_logs(str(tmp_path))["build|0|q"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 1, 1)
    assert g["job_s"] == pytest.approx(0.6)
    assert g["task_run_s"] == pytest.approx(0.4)
    assert g["task_cpu_s"] == pytest.approx(0.3)
    assert g["scheduler_delay_s"] == pytest.approx(0.05)
    assert g["input_mb"] == pytest.approx(1.0)
    assert g["shuffle_write_mb"] == pytest.approx(2.0)
