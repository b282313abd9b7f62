"""Smoke test of the benchmark: every workload (including ``relational``,
which ``BENCHMARK.json`` leaves out) runs on the sf0.001 tables and a
50-doc corpus, no output is wrong, only known engine defects raise, and
every metric ``BENCHMARK.json`` names is emitted with its unit
(end-to-end with ``--trace 0``, per-layer with ``--trace 1``).

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
sys.path[:0] = [ROOT, HERE]
from workloads import WORKLOADS  # noqa: E402

# Operations that raise on this engine; each execution counts in the
# result's `failed`. dd_read_arrow_narrow prunes the column that only a
# pushed filter references, so re-applying the filter cannot resolve it.
KNOWN_DEFECTS = {"remote_scan/narrow"}


def _run(workload: str, trace: int) -> tuple[dict, set[str]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    raised = {line.split()[1].rstrip(":") for line in p.stderr.splitlines()
              if line.startswith("perfbench: ") and " raised: " in line}
    return json.loads(p.stdout.strip().splitlines()[-1]), raised


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_emits_every_metric(workload, trace):
    out, raised = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert raised <= KNOWN_DEFECTS
    assert (out["failed"] > 0) == bool(raised)
    assert out["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]


def test_refuses_outside_a_checkout(tmp_path):
    """Run from a directory holding only the benchmark, it must fail
    fast without printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "relational",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
