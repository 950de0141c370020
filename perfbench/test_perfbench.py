"""Self-tests of the benchmark. Run from the checkout root:

    python3 -m pytest perfbench -q

The traced-run test runs ``report_refresh`` traced and untraced, two
Spark sessions, and takes about a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixture  # noqa: E402

#: The traced run's layer spans must cover at least this share of the
#: traced op wall time; the rest is span bookkeeping between layers.
LAYER_COVERAGE_MIN = 0.98
#: The traced op wall (spans, but not the tracer's own reads after the
#: op) must be within this share of the untraced run's mean op wall. The
#: two are separate runs, so the tolerance also holds run-to-run noise.
TRACED_OP_TOLERANCE = 0.2


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300, check=False,
    )


def test_fixture_is_a_function_of_its_seed():
    a, b, c = fixture.tables(3, 0.001), fixture.tables(3, 0.001), fixture.tables(4, 0.001)
    assert list(a) == list(fixture.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items()}


def test_traced_run_layers_cover_the_op_wall():
    args = ("--workload", "report_refresh", "--seed", "1", "--seconds", "1")
    m = _result(_run(ROOT, *args, "--trace", "1"))
    assert m["oracle.checked"] == 34 and m["oracle.mismatches"] == 0
    layers = m["queries.build_s"] + m["catalyst.plan_s"] + m["exec.s"]
    assert layers / m["trace.op_s"] == pytest.approx(m["trace.layer_coverage"], rel=1e-6)
    assert m["trace.layer_coverage"] >= LAYER_COVERAGE_MIN
    assert 0 < m["trace.overhead_share"] < 1
    # the traced op (build, executedPlan, toRdd().count()) against the
    # op the end-to-end metrics time (build, noop write)
    untraced_op_s = 1 / _result(_run(ROOT, *args, "--trace", "0"))["ops_per_s"]
    ratio = m["trace.op_s"] / untraced_op_s
    print(f"layer coverage {m['trace.layer_coverage']:.4f}; traced op {m['trace.op_s']:.4f} s "
          f"vs untraced {untraced_op_s:.4f} s (ratio {ratio:.3f}); tracer reads "
          f"{m['trace.overhead_s']:.4f} s per op ({m['trace.overhead_share']:.2%})")
    assert abs(ratio - 1) <= TRACED_OP_TOLERANCE


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "--workload", "lake_upsert", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
