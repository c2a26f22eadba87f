"""Tests of the benchmark itself (not part of the repository's tier-1 suite).

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each test drives ``perfbench/run.py`` as a subprocess with
``--seconds 0``, which runs exactly one deck (dashboard) or one round
(rollup_refresh), so runs are comparable request by request. The whole
module takes about ten minutes: it starts Spark six times.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")
sys.path.insert(0, BENCH)

from workloads import RollupRefresh  # noqa: E402

ROLLUP_OPERATORS = RollupRefresh.OPERATORS
SEED = 7
WORKLOADS = ("dashboard", "rollup_refresh")


def _run(workload: str, trace: int, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(SEED),
         "--seconds", "0", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def _snapshot():
    """(size, mtime) of every file of the checkout outside the benchmark's
    own cache, work and test directories, bytecode caches and git."""
    skip = {os.path.join(BENCH, d) for d in (".cache", ".work", "tests")}
    out = {}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [
            x for x in dirs
            if x not in (".git", "__pycache__") and os.path.join(d, x) not in skip
        ]
        for f in files:
            p = os.path.join(d, f)
            st = os.lstat(p)
            out[os.path.relpath(p, ROOT)] = (st.st_size, st.st_mtime_ns)
    return out


def _work_dirs():
    work = os.path.join(BENCH, ".work")
    return set(os.listdir(work)) if os.path.isdir(work) else set()


@pytest.fixture(scope="module", params=WORKLOADS)
def runs(request):
    workload = request.param
    before = _snapshot(), _work_dirs()
    traced = [_run(workload, 1), _run(workload, 1)]
    untraced = _run(workload, 0)
    after = _snapshot(), _work_dirs()
    return workload, traced, untraced, before, after


def test_outputs_correct(runs):
    _, traced, untraced, _, _ = runs
    for details, result in traced + [untraced]:
        assert result["correct"] and result["failed"] == 0, details["failures"]


def test_traced_counts_repeat(runs):
    """Per-request job and stage counts, output rows and the routed
    ratio are identical across two traced runs of one seed."""
    workload, (a, b), _, _, _ = runs
    assert a[0]["per_request_counts"] == b[0]["per_request_counts"]
    routed = [run[0]["layers"].get("preagg.router.routed_ratio") for run in (a, b)]
    assert routed[0] == routed[1]
    if workload == "rollup_refresh":
        # every query that must route compiled to a rollup, per request
        assert routed[0] == {"value": 1.0, "base": 24}
        assert sorted(a[0]["layers"]["operators"]) == sorted(
            op for ops in ROLLUP_OPERATORS.values() for op in ops)


def test_tracing_adds_no_spark_jobs(runs):
    _, (a, _), untraced, _, _ = runs
    assert a[0]["spark_jobs"] == untraced[0]["spark_jobs"]


def test_writes_stay_inside_the_benchmark(runs):
    """No file of the checkout outside the benchmark's own cache changes:
    not .preagg_cache/, not BENCH_SUMMARY.json, not SAMPLE_HISTORY.json;
    and each run removes its own work directory."""
    _, _, _, (before, work_before), (after, work_after) = runs
    changed = sorted(p for p in set(before) | set(after) if before.get(p) != after.get(p))
    assert changed == []
    assert work_after <= work_before


def test_refuses_to_run_without_the_library(tmp_path):
    """In a directory holding only the benchmark, the runner exits
    non-zero without printing a result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in ("run.py", "workloads.py", "tracing.py", "datagen.py", "reference.py"):
        (bench / f).write_text(open(os.path.join(BENCH, f)).read())
    proc = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", "dashboard",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
