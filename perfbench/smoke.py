"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload once on tiny inputs, untraced and traced, and checks
that the result line carries exactly the metrics BENCHMARK.json declares,
with their units; that the report line carries every metric of the
registry that applies to the workload; that no op failed; and that in a
directory holding only BENCHMARK.json and perfbench/ the benchmark exits
non-zero without printing a result. Takes about three minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import ALL, END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def run(cwd: str, workload: str, trace: int, tiny: bool = True):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    if tiny:
        cmd.append("--tiny")
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_run(workload: str, trace: int, declared: dict) -> None:
    p = run(REPO, workload, trace)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    report = json.loads(lines[-2])["perfbench_report"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, report["failures"]
    section = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in declared[section]}
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    assert got == want, f"{workload}: result metrics {got} != declared {want}"
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), (name, m)
    registry, part = (PER_LAYER, "per_layer") if trace else (END_TO_END, "end_to_end")
    for name, (unit, _, wls) in registry.items():
        if workload in wls:
            assert name in report[part], f"{workload}: report lacks {name}"
            assert report[part][name]["unit"] == unit, (name, report[part][name])
    print(f"ok  {workload:7s} trace={trace}  {len(report[part])} metrics in the report")


def check_bare_directory() -> None:
    """Without the program next to it the benchmark must fail, not report."""
    bare = os.path.join(REPO, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bare, WORKLOADS[0], 0, tiny=False)
        assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  bare directory exits", p.returncode, "with no result")


def main() -> None:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    assert [w["name"] for w in declared["workloads"]] == list(WORKLOADS)
    # the result line of every workload must carry each declared metric
    for section, registry in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        for m in declared[section]:
            unit, better, wls = registry[m["name"]]
            assert wls == ALL and (m["unit"], m["better"]) == (unit, better), m
    check_bare_directory()
    for workload in WORKLOADS:
        for trace in (0, 1):
            check_run(workload, trace, declared)


if __name__ == "__main__":
    main()
