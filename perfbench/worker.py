"""One benchmark process: set up Spark (session, registry import,
warm-up), run timed passes over the workload's jobs, then check the
outputs. ``run.py`` starts this with the environment
pinned and Spark's log captured; the result goes to ``--out``.

    python3 perfbench/worker.py --workload NAME --seed N --seconds S \
        --trace 0|1 --data DIR --scratch DIR --out FILE
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the checkout under test wins over any installed copy of the package
sys.path.insert(1, ROOT)
sys.path.append(os.path.join(ROOT, "tools"))

from probes import (RssSampler, Tracer, cpu_by_kind, occupancy,  # noqa: E402
                    self_times, spark_counters)
from workloads import WORKLOADS, Ctx, check_job, run_job  # noqa: E402

# A fresh JVM runs its first pass two to three times slower than a warm
# one; the timed passes start after it.
WARM_PASSES = 1
# The passes after it still speed up, so a median over two passes in one
# run and over three in the next differ by that trend; a loaded host
# fits only two or three passes of kernels_graph into the window.
MIN_PASSES = 3


def _since_process_start() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rpartition(")")[2].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def setup(data_dir: str) -> tuple[object, dict]:
    """The session, the query registry import, and the start of the
    warm-up (bench.py's): a lineitem scan and one Python-worker job,
    which also checks which package the workers import."""
    t0 = time.perf_counter()
    from etl_tool_rep_spark.session import get_spark
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    from etl_tool_rep_spark.queries import QUERIES  # noqa: F401
    t2 = time.perf_counter()
    spark.read.parquet(os.path.join(data_dir, "lineitem.parquet")).count()
    worker_file = (spark.sparkContext.parallelize([0], 1)
                   .map(lambda _: __import__("etl_tool_rep_spark").__file__)
                   .collect()[0])
    timings = {"session.start_s": t1 - t0, "queries.import_s": t2 - t1,
               "warmup_s": time.perf_counter() - t2}
    # the JVM-spawned Python workers must import the checkout under test
    if not os.path.realpath(worker_file).startswith(
            os.path.realpath(ROOT) + os.sep):
        raise RuntimeError(f"Python workers import etl_tool_rep_spark from "
                           f"{worker_file}, not from {ROOT}")
    return spark, timings


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pass(ctx: Ctx, jobs: list[str], job_times: list[float],
          errors: dict[str, int]) -> tuple[float, dict]:
    results = {}
    t0 = time.perf_counter()
    with ctx.tracer.span("pass", "harness"):
        for name in jobs:
            j0 = time.perf_counter()
            try:
                results[name] = run_job(ctx, name)
            except Exception:  # noqa: BLE001 — a failed job is counted
                traceback.print_exc()
                errors[name] = errors.get(name, 0) + 1
            job_times.append((name, time.perf_counter() - j0))
    return time.perf_counter() - t0, results


def _layer_metrics(spark, tracer: Tracer) -> dict[str, float]:
    """Per-pass layer totals from the spans (median over traced
    passes), with Spark's counters attached by job group."""
    counters = spark_counters(spark)
    selfs = self_times(tracer.spans)
    passes: dict[int, dict[str, float]] = {}
    by_id = {s.id: s for s in tracer.spans}

    def root(s):
        while s.parent is not None:
            s = by_id[s.parent]
        return s.id

    for s in tracer.spans:
        m = passes.setdefault(root(s), defaultdict(float))
        c = counters.get(f"pb-{s.id}", {})
        m[f"self.{s.layer}_s"] += selfs[s.id]
        if s.layer == "build":
            m["build.s"] += s.dur
            m["build.jobs"] += c.get("jobs", 0)
            m["driver.cpu_s"] += s.counts["cpu.driver_s"]
        elif s.layer == "catalyst":
            m["plan.s"] += s.dur
            for phase in ("analysis", "optimization", "planning"):
                m[f"plan.{phase}_s"] += s.counts.get(f"plan.{phase}_s", 0.0)
            m["kernel.python_nodes"] += s.counts["python_nodes"]
        elif s.layer == "pipeline":
            m[f"{s.name}_s"] += s.dur
        elif s.layer in ("exec", "sinks"):
            m["exec.s" if s.layer == "exec" else "sinks.write_s"] += s.dur
            for k in ("jobs", "stages", "tasks", "input_mb",
                      "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                      "gc_s", "executor_cpu_s"):
                m[f"exec.{k}"] += c.get(k, 0)
            m["jvm.cpu_s"] += s.counts["cpu.jvm_s"]
            if s.layer == "sinks":
                m["sinks.out_mb"] += s.counts["out_mb"]
                m["sinks.files"] += s.counts["files"]
                m["sinks.write_tasks"] += c.get("tasks", 0)
        elif s.name == "pass":
            m["trace.pass_s"] += s.dur
        elif s.job == s.id:
            m["kernel.worker_cpu_s"] += s.counts["cpu.worker_s"]
    keys = sorted({k for m in passes.values() for k in m})
    return {k: _median([m.get(k, 0.0) for m in passes.values()])
            for k in keys}


def _catalog_probe(spark, data_dir: str, tracer: Tracer) -> dict:
    """Time ``catalog.load`` directly on every table, three times; the
    median of the per-round totals, and the jobs one round launches."""
    from etl_tool_rep_spark.catalog import TABLES, load

    totals, jobs = [], []
    for _ in range(3):
        with tracer.span("catalog-probe", "probe") as root:
            for t in TABLES:
                with tracer.span(f"load.{t}", "probe"):
                    load(spark, data_dir, t)
        totals.append(root.dur)
        counters = spark_counters(spark)
        jobs.append(sum(counters.get(f"pb-{s.id}", {}).get("jobs", 0)
                        for s in tracer.spans if s.parent == root.id))
    return {"catalog.load_s": _median(totals),
            "catalog.load_jobs": _median(jobs)}


def run(args) -> dict:
    spark, setup_t = setup(args.data)
    tracer = Tracer(spark, enabled=False)
    ctx = Ctx(spark=spark, data_dir=args.data, out_dir=args.scratch,
              tracer=tracer, seed=args.seed)
    rng = random.Random(args.seed)
    jobs = WORKLOADS[args.workload]
    pid = os.getpid()
    errors: dict[str, int] = {}
    # untimed passes finish the warm-up: the timed passes run on a warm
    # JVM (JIT, codegen, Python workers), so their time does not depend
    # on which job the seeded order puts first, and a traced run's
    # traced and untraced passes differ only by the tracing overhead.
    # They count as set-up, so work moved into a first pass still shows.
    warm_times: list = []
    w0 = time.perf_counter()
    for _ in range(WARM_PASSES):
        _pass(ctx, rng.sample(jobs, len(jobs)), warm_times, errors)
    setup_t["warmup_s"] += time.perf_counter() - w0
    setup_t["setup_s"] = _since_process_start()

    plain_pass, traced_pass, cpu_pass, job_times = [], [], [], []
    results: dict = {}
    occ0 = occupancy()
    start = time.perf_counter()
    with RssSampler(pid) as rss:
        i = 0
        while True:
            # a traced run runs blocks of untraced, traced, traced and
            # untraced passes: within a block the warm-up trend adds as
            # much to the traced passes as to the untraced ones
            tracer.enabled = bool(args.trace) and i % 4 in (1, 2)
            cpu0 = cpu_by_kind(pid)["total"]
            secs, results = _pass(ctx, rng.sample(jobs, len(jobs)),
                                  job_times, errors)
            cpu_pass.append(cpu_by_kind(pid)["total"] - cpu0)
            (traced_pass if tracer.enabled else plain_pass).append(secs)
            i += 1
            # stop before a pass that would end after --seconds, so that
            # a run lasts about as long on a slow host as on a fast one
            enough = i >= MIN_PASSES and (not args.trace or i % 4 == 0)
            left = args.seconds - (time.perf_counter() - start)
            if enough and left < _median(plain_pass + traced_pass):
                break
        occ1 = occupancy()
        tracer.enabled = False

        # output check, once per run, outside the timed region
        c0 = time.perf_counter()
        from check_oracle import duck_connection
        con = duck_connection(args.data)
        mismatches = {}
        for name in jobs:
            if name not in results:
                continue
            msg = check_job(con, ctx, name, results[name], args.perturb)
            if msg:
                print(f"CHECK FAILED {name}: {msg}", file=sys.stderr)
                mismatches[name] = msg
                args.perturb = False
        con.close()
        check_s = time.perf_counter() - c0

    n_passes = len(plain_pass) + len(traced_pass)
    # a job whose output is wrong was wrong in every pass
    failed = (sum(errors.values())
              + (n_passes + WARM_PASSES) * len(mismatches))
    out = {
        "attempted": len(warm_times) + len(job_times), "failed": failed,
        "mismatches": mismatches, "errors": errors,
        "setup": setup_t, "passes": n_passes, "check_s": check_s,
        "pass_s": _median(plain_pass), "job_times": job_times,
        "pass_times": plain_pass, "cpu_passes": cpu_pass,
        "cpu_s": _median(cpu_pass), "peak_rss_mb": rss.peak_mb,
        "load1": [occ0["load1"], occ1["load1"]],
        "steal_ticks": occ1["steal"] - occ0["steal"],
    }
    if args.trace:
        tracer.enabled = True
        layers = _layer_metrics(spark, tracer)
        layers.update(_catalog_probe(spark, args.data, tracer))
        layers["trace.overhead_s"] = (_median(traced_pass)
                                      - _median(plain_pass))
        out["layers"] = layers
        out["spans"] = [vars(s) for s in tracer.spans]
    spark.stop()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", action="store_true")
    ap.add_argument("--data", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    out = run(args)
    with open(args.out, "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
