"""Smoke test of the benchmark itself: every workload, traced, on the
sf0.001 fixture. Each run must exit 0, pass its correctness checks and
emit every metric name of BENCHMARK.json.

    python3 perfbench/smoke.py        # from the root of a checkout; ~3 min
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from run import CHECKOUT, HERE, WORKLOADS, metric_units


def smoke(workload: str) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", "1", "--fixture", "sf0.001"]
    proc = subprocess.run(cmd, cwd=CHECKOUT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    report = json.loads(lines[-2].removeprefix("perfbench-report "))
    result = json.loads(lines[-1])
    problems = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"]:
        problems.append(f"correct={result['correct']} failed={result['failed']}")
    missing = [k for k in metric_units("per_layer") if k not in result["metrics"]]
    missing += [k for k in metric_units("end_to_end") if k not in report["metrics"]]
    if missing:
        problems.append(f"metrics not emitted: {missing}")
    return problems


def main() -> int:
    failed = 0
    for workload in WORKLOADS:
        problems = smoke(workload)
        failed += bool(problems)
        print(f"{'FAIL' if problems else 'ok  '} {workload} {'; '.join(problems)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
