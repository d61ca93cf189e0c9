"""Smoke test of the benchmark itself, at minimal size.

    python3 -m pytest perfbench/smoke_test.py -q      # about five minutes
    python3 perfbench/smoke_test.py

Each workload runs once untraced at sf0.001 with a short measurement
(every end-to-end metric must print with its unit and the checks must
pass) and once traced with ``harness.tamper`` replaced so that every
result the checks see carries a duplicated row (every per-layer metric
must print with its unit and the tampered results must count as
failed). A copy of the benchmark without the engine must fail fast
without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ("batch", "stream")


def _spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


# A benchmark process at minimal table size, optionally with every
# checked result tampered with.
CHILD = """
import sys
from perfbench import harness, run
run.SF = 0.001
if sys.argv[1] == "tamper":
    harness.tamper = lambda rows: rows[:1] * 2 + rows[1:]
raise SystemExit(run.main(sys.argv[2:]))
"""


def _output(cmd: list[str], cwd: str) -> tuple[int, dict | None, str]:
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    return p.returncode, result, p.stderr[-3000:]


def _run(workload: str, trace: int, *, tamper: bool = False) -> tuple[int, dict | None, str]:
    args = ["--workload", workload, "--seed", "7", "--seconds", "2", "--trace", str(trace)]
    return _output([sys.executable, "-c", CHILD, "tamper" if tamper else "-", *args], ROOT)


def _assert_metrics(result: dict, wanted: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    for m in wanted:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"metric {m['name']} missing"
        assert got["unit"] == m["unit"], (m["name"], got["unit"], m["unit"])
        assert isinstance(got["value"], float)
    assert set(result["metrics"]) == {m["name"] for m in wanted}


def test_spec_matches_code():
    sys.path.insert(0, ROOT)
    from perfbench import run

    spec = _spec()
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["unit"] for m in spec["end_to_end"]] == list(run.END_TO_END.values())
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer()
    assert [m["name"] for m in spec["per_layer"]] == list(run.per_layer())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_untraced_runs_print_every_end_to_end_metric():
    for workload in WORKLOADS:
        rc, result, err = _run(workload, 0)
        assert rc == 0 and result is not None, err
        _assert_metrics(result, _spec()["end_to_end"])
        assert result["correct"] and result["failed"] == 0, (result, err)
        assert all(v["value"] > 0 for v in result["metrics"].values()), result


def test_tampered_result_counts_as_failed_in_traced_run():
    for workload in WORKLOADS:
        rc, result, err = _run(workload, 1, tamper=True)
        assert rc == 0 and result is not None, err
        _assert_metrics(result, _spec()["per_layer"])
        assert result["failed"] >= 1 and not result["correct"], result


def test_fails_fast_without_the_engine():
    bare = os.path.join(ROOT, ".perfbench", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(SPEC_PATH, bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        cmd = [sys.executable, "perfbench/run.py", "--workload", "batch", "--seed", "7",
               "--seconds", "2", "--trace", "0"]
        rc, result, _ = _output(cmd, bare)
        assert rc != 0 and result is None
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}", flush=True)
