"""tools/ab.py end to end at sf0.001, one rep per arm.

Each case starts real worker processes (one Spark session per tree), so
the three cases cost roughly a minute of wall together."""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest

from .conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ab(tmp_path, *arms: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_DRIVER_MEMORY="1g")
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "ab.py"), "--sf", SF_DIR, "--reps", "1", *arms],
        capture_output=True,
        text=True,
        env=env,
        cwd=ROOT,
        timeout=600,
    )


def _git(*args: str) -> str:
    return subprocess.run(["git", "-C", ROOT, *args], capture_output=True, text=True).stdout


def test_row_identical_arms_pass_the_gate(tmp_path):
    # the join and window forms of q05 are row-identical by their oracle SQL
    r = _ab(tmp_path, "q05_groupwise_max", "q05_groupwise_max_window")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "row identity OK" in r.stdout
    assert re.search(r"^q05_groupwise_max: median ", r.stdout, re.M)
    assert re.search(r"^q05_groupwise_max_window: median ", r.stdout, re.M)


def test_differing_arms_stop_at_the_gate_before_timing(tmp_path):
    r = _ab(tmp_path, "q01_project_filter", "q03_topk_orders")
    assert r.returncode != 0
    assert "row identity FAILED" in r.stderr
    assert "median" not in r.stdout


@pytest.mark.skipif(
    subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True).returncode,
    reason="needs a git checkout with a HEAD commit",
)
def test_git_ref_arm_runs_in_its_own_worker_and_cleans_up(tmp_path):
    status, worktrees = _git("status", "--porcelain"), _git("worktree", "list")
    r = _ab(tmp_path, "HEAD:q01_project_filter", "q01_project_filter")
    assert r.returncode == 0, r.stderr[-2000:]
    trees = re.findall(r"^worker: .* at (\S+)$", r.stdout, re.M)
    assert len(trees) == 2 and ROOT in trees
    extracted = next(t for t in trees if t != ROOT)
    assert extracted.startswith(str(tmp_path)) and not os.path.exists(extracted)
    assert not [d for d in os.listdir(tmp_path) if d.startswith("ab-")]
    assert "row identity OK" in r.stdout
    assert _git("status", "--porcelain") == status
    assert _git("worktree", "list") == worktrees
