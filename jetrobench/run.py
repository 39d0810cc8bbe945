#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 jetrobench/run.py --workload catalog_build --seed 1 --seconds 8 --trace 0

Run from the repository root. The engine runs on ``local[nproc]`` by one
closed-loop client: the next operation starts when the previous one ends.
A pass runs every member of the workload once, in a fixed order.

- set-up (timed as ``setup_s``): session start, seeded input generation,
  and warm-up passes until two consecutive passes agree within SETTLE
  (at most MAX_WARM passes);
- timed region: whole passes until ``--seconds`` have elapsed;
- output checks, after the timed region;
- with ``--trace 1`` passes alternate between untraced and traced, and
  the per-layer numbers come from the traced ones.

The last stdout line is the result object; the line before it carries
the same run in detail (every metric, pass times, the tail) for
``jetrobench/diff.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "catalog_build": ("q146_semantic_dedup", "q236_bfs_frontier", "q300_part_price_dispersion"),
    "catalog_exec": ("q1_pricing_summary", "q3_top_customers", "q349_lone_late_supplier"),
    "supplier_batch": None,  # the six runners, see gen.VENDORS
}
# Warm-up: passes until two in a row agree within SETTLE, at most
# MAX_WARM. Pass walls measured on a 4-core host, cold pass first:
#   catalog_build  21.4  9.2  8.7  8.4 ... settles near 7.5 s by pass 7
#   supplier_batch 35.1 17.6 15.6 15.9
#   catalog_exec   13.5  4.0  3.0  3.2
# Settling catalog_build fully would cost another minute per run; the caps
# keep a run of a BENCHMARK.json workload near one minute, and the detail
# line records every warm-up pass and whether it settled.
SETTLE = 0.15
MAX_WARM = {"catalog_build": 2, "catalog_exec": 3, "supplier_batch": 1}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of this process plus the JVM's, in MB."""
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def start_session(work: str):
    from etl_jetro_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="jetrobench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, close the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_pass(wl, tracer, pass_no: int, traced: bool, next_id: list[int], collect: bool = False):
    from workloads import Op

    ops = []
    tracer.on = traced
    try:
        for member in wl.members:
            op = Op(member, next_id[0], pass_no, traced, collect=collect)
            next_id[0] += 1
            wl.run(op)
            if op.error:
                print(f"op {op.op_id} {member} failed: {op.error}", file=sys.stderr)
            ops.append(op)
    finally:
        tracer.on = False
    return ops


def pass_wall(ops) -> float:
    return sum(op.latency for op in ops)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_jetro_spark", "__init__.py")):
        print(f"no etl_jetro_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".jetrobench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    spark = None
    try:
        t_setup = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t_setup
        result = measure(args, spark, work, cores, t_setup, session_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    detail, line = result
    detail["setup"]["total_s"] = time.perf_counter() - t_setup
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(line))
    return 0


def measure(args, spark, work: str, cores: int, t_setup: float, session_s: float):
    import metrics
    from sparkstats import StatusReader
    from spans import Tracer
    from workloads import TABLE_SCALES, Catalog, Env, SupplierBatch

    tracer = Tracer()
    env = Env(spark, work, StatusReader(spark), tracer)
    members = WORKLOADS[args.workload]
    wl = Catalog(env, members, TABLE_SCALES[args.workload]) if members else SupplierBatch(env)
    t = time.perf_counter()
    wl.setup(args.seed)
    gen_s = time.perf_counter() - t
    if args.trace:
        wl.install_spans()

    next_id = [0]
    warm_passes = []
    settled = False
    while not settled and len(warm_passes) < MAX_WARM[args.workload]:
        # the cold pass also keeps the catalog's outputs for the checks
        cold = not warm_passes
        warm_passes.append(run_pass(wl, tracer, -1 - len(warm_passes), False, next_id, collect=cold))
        w = [pass_wall(p) for p in warm_passes[-2:]]
        settled = len(w) == 2 and abs(w[1] - w[0]) <= SETTLE * w[0]
    if hasattr(wl, "cleanup_all"):
        wl.cleanup_all()
    setup_s = time.perf_counter() - t_setup

    # whole passes until --seconds have elapsed. A traced run alternates
    # untraced, traced, untraced, ... and runs at least three passes, so
    # the untraced passes bracket the traced one and a drift in speed
    # (warm-up still settling) cancels out of the tracing overhead.
    passes = []
    t0 = time.perf_counter()
    while len(passes) < 1 + 2 * args.trace or time.perf_counter() - t0 < args.seconds:
        traced = bool(args.trace) and len(passes) % 2 == 1
        passes.append(run_pass(wl, tracer, len(passes), traced, next_id))
    timed_s = time.perf_counter() - t0

    ops = [op for ops_ in passes for op in ops_]
    t = time.perf_counter()
    problems = wl.check(warm_passes[0] + ops)
    check_s = time.perf_counter() - t
    rss = peak_rss_mb(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    if hasattr(wl, "cleanup_all"):
        wl.cleanup_all()
    return metrics.report(
        args, cores, ops, passes, problems, tracer,
        setup={
            "setup_s": setup_s, "session_s": session_s, "gen_s": gen_s,
            "warm": [pass_wall(p) for p in warm_passes], "warm_settled": settled,
            "check_s": check_s,
        },
        timed_s=timed_s, peak_rss=rss, warm_passes=warm_passes,
    )


if __name__ == "__main__":
    sys.exit(main())
