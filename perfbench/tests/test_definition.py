"""BENCHMARK.json and the runner agree: every metric the runner reports is
declared, with the unit the runner gives it, and nothing else is.

Run from the repo root:  python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_workloads_match():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


def test_per_layer_match():
    declared = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert list(declared) == list(workloads.PER_LAYER)
    assert all(declared[n] == workloads.unit(n) for n in workloads.PER_LAYER)


def test_end_to_end_match():
    declared = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert declared == dict(run.END_TO_END)
    assert declared["setup_s"] == "s"
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])


def test_fails_outside_a_checkout(tmp_path):
    """Copied alone, without the package, the runner exits non-zero and
    prints no result."""
    dst = tmp_path / "perfbench"
    dst.mkdir()
    for name in ("run.py", "sources.py", "status.py", "workloads.py"):
        (dst / name).write_text(open(os.path.join(BENCH, name)).read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "transcript_e2e",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
