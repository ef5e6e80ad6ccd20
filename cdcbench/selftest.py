"""Benchmark self-test at tiny scale.

    python3 cdcbench/selftest.py

Runs every workload listed in BENCHMARK.json once untraced and once
traced, at the self-test sizes, and prints every metric with its unit.
Fails (exit 1) unless each run passes the oracle parity check and
reports exactly the metrics, with the units, that BENCHMARK.json names.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> tuple[int, dict | None, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = None
    return p.returncode, result, p.stderr


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    ok = True
    for wl in bench["workloads"]:
        for trace in (0, 1):
            rc, result, err = run(wl["name"], trace)
            head = f"{wl['name']} --trace {trace}"
            if result is None:
                print(f"{head}: FAIL (exit {rc}, no result line)\n{err[-2000:]}")
                ok = False
                continue
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            problems = []
            if rc != 0 or not result["correct"] or result["failed"]:
                problems.append(f"exit {rc}, {result['failed']}/{result['attempted']} failed")
            if got != wanted[trace]:
                problems.append(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(wanted[trace]))}")
            print(f"{head}: {'FAIL ' + '; '.join(problems) if problems else 'ok'} "
                  f"({result['attempted']} attempted, {result['failed']} failed)")
            for k, v in result["metrics"].items():
                print(f"    {k:40s} {v['value']:>16.6g} {v['unit']}")
            ok = ok and not problems
    print("self-test", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
