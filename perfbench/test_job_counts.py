"""Job-count determinism self-check for the benchmark.

Jobs and stages per query, and jobs per micro-batch, are the noise-free
regression signal: after the session's io warm-up they must repeat exactly
across two traced runs of the same seed, and equal the counts recorded in
``perfbench/job_counts.json``. A change that legitimately moves them
updates that file from the trace dump ``.perfbench/traces/<workload>-seed1.json``
(key ``job_counts``).

    python3 -m pytest perfbench/test_job_counts.py -q

Takes about seven minutes on 4 cores: two traced runs of each workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _BENCH = json.load(_fh)
WORKLOADS = [w["name"] for w in _BENCH["workloads"]]


def _traced_counts(workload: str) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", str(_BENCH["run_seconds"]), "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=200,
    )
    assert p.returncode == 0, f"traced {workload} run exited {p.returncode}"
    assert json.loads(p.stdout.strip().splitlines()[-1])["correct"]
    with open(os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed1.json")) as fh:
        return json.load(fh)["job_counts"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_job_counts_repeat_exactly(workload):
    first = _traced_counts(workload)
    second = _traced_counts(workload)
    assert first == second, "job counts differ between two runs of one seed"
    with open(os.path.join(HERE, "job_counts.json")) as fh:
        recorded = json.load(fh)[workload]
    assert first == recorded, (
        f"job counts moved from perfbench/job_counts.json: {json.dumps(first)}"
    )
