#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 (a few minutes):

* every workload, untraced and traced, emits each metric that
  BENCHMARK.json declares, with its unit, and passes its output check;
* a run whose output is deliberately altered (``--perturb``) is caught:
  it reports ``correct: false`` and at least one failed job, both for a
  job exported through the sinks and for a registry job.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("rules_etl", "kernels_graph")


def bench(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--data", "sf0.001",
         "--seconds", "1", "--seed", "7", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"run.py {args} exited {proc.returncode}:\n"
                             f"{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        res = bench("--workload", "all", "--trace", str(trace))
        if not res["correct"] or res["failed"]:
            problems.append(f"trace {trace}: correct={res['correct']} "
                            f"failed={res['failed']}")
        for w in WORKLOADS:
            for m in spec[kind]:
                got = res["metrics"].get(f"{w}.{m['name']}")
                if got is None or got["unit"] != m["unit"] \
                        or not isinstance(got["value"], (int, float)):
                    problems.append(f"{w}: {m['name']} missing or bad: {got}")
    for w in WORKLOADS:
        res = bench("--workload", w, "--perturb")
        if res["correct"] or res["failed"] < 1:
            problems.append(f"perturbed {w} output not caught: {res}")
    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "OK")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
