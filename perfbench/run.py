#!/usr/bin/env python3
"""Benchmark of the ETL engine: one workload per invocation, one JSON
result as the last line of stdout.

    python3 perfbench/run.py --workload rules_etl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all          # every workload, in turn

Each invocation pins the environment and runs ``worker.py``, which
sets up (session, registry import, a warm-up scan and Python job, one
untimed pass), runs passes over the workload's jobs for ``--seconds``
(at least one) on ``local[<cores>]`` (one client, closed loop) and
checks every job's output against DuckDB. ``--trace 1`` reports the per-layer
metrics of BENCHMARK.json instead of the end-to-end ones and writes
the spans to ``.perfbench_out/``. Everything the run writes stays
under ``.perfbench_out/`` in the checkout. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("rules_etl", "kernels_graph")
DRIVER_MEM = "2g"  # the session default (16g) exceeds a 15 GB host
DEADLINE_S = 170
_LOG_RE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (ERROR|WARN) ")


def _env(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        # a fixed heap: one that grows from a smaller start grows at
        # other moments in every run, and peak RSS varies with it
        "SPARK_SUBMIT_OPTS": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                              f"-Xms{DRIVER_MEM}"),
        # the same seed gives the same Python-side set and dict order
        "PYTHONHASHSEED": "0",
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # JVM-spawned Python workers import the checkout under test
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    })
    return env


def _stop_group(pgid: int) -> None:
    """Kill what is left of a child's process group (the JVM, pyspark
    daemons) and wait until every member has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(100):
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def _child(args: list[str], env: dict, log: str, timeout: float) -> dict:
    out = log + ".json"
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args,
             "--out", out],
            cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            code = proc.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if code != 0:
        with open(log) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"{args[:2]} exited with {code}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def _tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it
    (nearest rank), as (value, percentile); the maximum when there are
    ten samples or fewer."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def run_workload(args, spec: dict, deadline: float) -> tuple[dict, dict]:
    run_dir = os.path.join(OUT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = _env(run_dir)
    t0 = time.monotonic()
    try:
        log = os.path.join(run_dir, "run.log")
        res = _child(["--workload", args.workload, "--seed", str(args.seed),
                      "--seconds", str(args.seconds),
                      "--trace", str(args.trace),
                      "--data", os.path.join(HERE, "data", args.data),
                      "--scratch", os.path.join(run_dir, "sinks"),
                      *(["--perturb"] if args.perturb else [])],
                     env, log, deadline - time.monotonic())
        with open(log) as fh:
            levels = [m.group(1) for line in fh
                      if (m := _LOG_RE.match(line))]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    job_s = [t for _, t in res["job_times"]]
    tail, pct = _tail(job_s)
    values = {
        "setup_s": res["setup"]["setup_s"],
        "pass_s": res["pass_s"],
        "cpu_s": res["cpu_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        **{k: v for k, v in res["setup"].items() if k != "setup_s"},
        "log.error_lines": levels.count("ERROR"),
        "log.warn_lines": levels.count("WARN"),
        "host.load1": res["load1"][1],
        "host.steal_ticks": res["steal_ticks"],
        **res.get("layers", {}),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "wall_s": time.monotonic() - t0, "setup": res["setup"],
        "check_s": res["check_s"], "passes": res["passes"],
        "pass_times": res["pass_times"],
        "cpu_passes": res["cpu_passes"],
        "job_s": res["job_times"],
        # reported, not bounded: a pass has two to four jobs of very
        # different length, so the median and the tail fall between two
        # jobs' times and jump; failed_frac is 0 when correct
        "job_s.p50": statistics.median(job_s), "job_s.tail": tail,
        "job_s.tail_pct": pct, "job_s.n": len(job_s),
        "failed_frac": res["failed"] / res["attempted"],
        "load1": res["load1"], "steal_ticks": res["steal_ticks"],
        "log.error_lines": values["log.error_lines"],
        "log.warn_lines": values["log.warn_lines"],
        "mismatches": res["mismatches"], "errors": res["errors"],
    }
    if args.trace:
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(res["spans"], fh)
        detail["spans"] = os.path.relpath(path, ROOT)
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0),
                           "unit": m["unit"]} for m in spec[kind]}
    result = {"correct": res["failed"] == 0 and not res["mismatches"],
              "attempted": res["attempted"], "failed": res["failed"],
              "metrics": metrics}
    return result, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default="sf0.01",
                    help="fixture directory under perfbench/data")
    ap.add_argument("--perturb", action="store_true",
                    help="alter one output cell before the check "
                         "(self-test: the run must report correct=false)")
    args = ap.parse_args()
    # on SIGTERM too, unwind through _child's cleanup of the worker group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("etl_tool_rep_spark/__init__.py", "tools/check_oracle.py",
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} is missing; run from a checkout of "
                  f"the repository", file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for name in names:
        args.workload = name
        try:
            result, detail = run_workload(
                args, spec, time.monotonic() + DEADLINE_S)
        except RuntimeError as exc:
            print(f"perfbench: {exc}", file=sys.stderr)
            return 1
        results[name] = result
        print("detail " + json.dumps(detail))
        rows = [(m, v["value"], v["unit"])
                for m, v in result["metrics"].items()]
        if not args.trace:
            rows += [("job_s.p50", detail["job_s.p50"], "s"),
                     ("job_s.tail", detail["job_s.tail"],
                      f"s (p{detail['job_s.tail_pct']:.0f}, "
                      f"n={detail['job_s.n']})"),
                     ("failed_frac", detail["failed_frac"], "ratio")]
        for metric, value, unit in rows:
            print(f"  {name:16s} {metric:28s} {value:12.4f} {unit}")
    if len(results) == 1:
        print(json.dumps(results[names[0]]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{m}": v for w, r in results.items()
                        for m, v in r["metrics"].items()}}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
