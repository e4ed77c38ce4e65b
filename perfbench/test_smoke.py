"""Self-test of the benchmark: every workload once at the smallest scale.

    python3 -m pytest perfbench/test_smoke.py -q

Takes a few minutes: each workload starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import END_TO_END, WORK, per_layer_units  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _smoke(trace: int) -> list[dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke",
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=1500)
    assert proc.returncode == 0, proc.stderr[-4000:]
    results = [json.loads(line) for line in proc.stdout.splitlines()
               if line.startswith("{")]
    assert len(results) == len(WORKLOADS)
    return results


def _check(results, units):
    for name, res in zip(WORKLOADS, results):
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0
        assert res["attempted"] >= 1
        assert {k: m["unit"] for k, m in res["metrics"].items()} == units
        with open(os.path.join(WORK, f"{name}.detail.json")) as fh:
            detail = json.load(fh)
        # every recorded digest of the workload was compared, and matched
        assert detail["checked"] > 0 and not detail["mismatches"]


def test_smoke_untraced():
    _check(_smoke(0), dict(END_TO_END))


def test_smoke_traced():
    results = _smoke(1)
    _check(results, dict(per_layer_units()))
    by_name = dict(zip(WORKLOADS, results))
    assert by_name["dq_cycle"]["metrics"]["profiling.calls"]["value"] > 0
    assert by_name["corpus_build"]["metrics"]["pipeline.calls"]["value"] > 0
    for res in results:
        assert res["metrics"]["trace_overhead"]["value"] > 0
