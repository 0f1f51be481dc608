"""Smoke tests of the benchmark itself, at tiny scale.

    python3 -m pytest perfbench/tests -q

For each workload they check that the printed metric names and units
match BENCHMARK.json, that the counts of a traced run repeat exactly on
one seed, and that a deliberately corrupted reference model makes the
run report a mismatch and exit non-zero. Each run starts its own Spark,
so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SEED = 7
# compact() runs its changelog catch-up on a second thread next to the
# rewrite; how many Spark jobs that thread starts, and which job group
# they carry, depends on its timing. These two counts can move by a job
# between runs of one seed; every other count must repeat exactly.
THREAD_LABELLED = {"compact.jobs", "spark.unattributed_jobs"}

# Run the benchmark with one reference model broken: the LWW model drops
# every third key it is given, and the Jaccard model reports 0.
_CORRUPT = """
import sys
import perfbench.model as m
_apply = m.LwwModel.apply
def apply(self, path):
    _apply(self, path)
    for k in list(self.rows)[::3]:
        self.rows.pop(k)
m.LwwModel.apply = apply
m.jaccard = lambda a, b, n=3: 0.0
import perfbench.run as r
sys.exit(r.main(sys.argv[1:]))
"""


def _run(workload: str, trace: int, corrupt: bool = False):
    args = ["--workload", workload, "--seed", str(SEED), "--seconds", "600",
            "--trace", str(trace), "--scale", "tiny"]
    cmd = ([sys.executable, "-c", _CORRUPT] if corrupt
           else [sys.executable, os.path.join("perfbench", "run.py")]) + args
    env = dict(os.environ, PYTHONPATH=ROOT)
    p = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None, p.stderr


def _units(section: str) -> dict:
    return {m["name"]: m["unit"] for m in SPEC[section]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_counts_repeat_and_match_spec(workload):
    rc1, first, err = _run(workload, trace=1)
    assert rc1 == 0, err[-3000:]
    rc2, second, err = _run(workload, trace=1)
    assert rc2 == 0, err[-3000:]
    for out in (first, second):
        assert out["correct"] is True and out["failed"] == 0
        assert {k: v["unit"] for k, v in out["metrics"].items()} == \
            _units("per_layer")
    assert first["attempted"] == second["attempted"] >= 1
    counts = {k for k, u in _units("per_layer").items()
              if u == "count" and k not in THREAD_LABELLED}
    assert {k: first["metrics"][k]["value"] for k in counts} == \
        {k: second["metrics"][k]["value"] for k in counts}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_model_trips_check(workload):
    rc, out, err = _run(workload, trace=0, corrupt=True)
    assert rc == 1, err[-3000:]
    assert out["correct"] is False and out["failed"] > 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        _units("end_to_end")
