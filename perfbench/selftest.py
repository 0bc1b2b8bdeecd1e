#!/usr/bin/env python3
"""Smoke-size self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the repository root.  Every workload runs once untraced and once
traced on tiny inputs with one timed operation; the test asserts that the
result line names every metric of BENCHMARK.json with its unit and that
no operation failed or returned a wrong answer.  Exit code 0 on success.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def check_result(res: dict, wanted: list[dict]) -> list[str]:
    problems = []
    if set(res) != RESULT_KEYS:
        problems.append(f"result keys {sorted(res)}")
        return problems
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        problems.append(f"correct={res['correct']} attempted="
                        f"{res['attempted']} failed={res['failed']}")
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None:
            problems.append(f"missing {m['name']}")
        elif got.get("unit") != m["unit"]:
            problems.append(f"{m['name']}: unit {got.get('unit')!r}, "
                            f"expected {m['unit']!r}")
        elif not isinstance(got.get("value"), (int, float)):
            problems.append(f"{m['name']}: value {got.get('value')!r}")
    return problems


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    failures = 0
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            proc = subprocess.run(
                [sys.executable, run, "--workload", w["name"], "--seed", "7",
                 "--seconds", "1", "--trace", str(trace), "--smoke"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                problems = [f"exit code {proc.returncode}"]
            else:
                problems = check_result(json.loads(lines[-1]), spec[kind])
            status = "ok" if not problems else "; ".join(problems)
            print(f"{w['name']} trace={trace}: {status}")
            failures += bool(problems)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
