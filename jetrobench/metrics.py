"""From the operations of one run to its metrics.

End-to-end metrics come from untraced passes; per-layer metrics from
traced ones. Per-pass quantities are medians over passes; a pass's
wall time is the sum of its operations' latencies.
"""

from __future__ import annotations

from collections import defaultdict

import stats
from sparkstats import Counters
from spans import self_time_by_op

# end-to-end metrics listed in BENCHMARK.json; peak_rss_mb is reported in
# the detail line only: the JVM's adaptive heap growth moves it by up to a
# third between runs of one seed, beyond the largest bound (0.25)
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "lat_p50_s": "s", "cpu_s": "s"}

# span name -> per-layer metric
SPAN_METRICS = {
    "plans.build": "plans.build_s",
    "spark.plan": "spark.plan_s",
    "spark.exec": "spark.exec_s",
    "sources.read": "sources.read_s",
    "normalize.clean": "normalize.clean_s",
    "pipelines.build": "pipelines.build_s",
    "sinks.canonical": "sinks.canonical_s",
    "sinks.macro": "sinks.macro_s",
    "sinks.pdf": "sinks.pdf_s",
    "sinks.notify": "sinks.notify_s",
    "streaming.tick": "streaming.tick_s",
}
COUNTER_METRICS = {
    "spark.jobs": ("jobs", "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.cpu_s": ("cpu_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "spark.input_mb": ("input_mb", "MB"),
    "spark.shuffle_read_mb": ("shuffle_read_mb", "MB"),
    "spark.shuffle_write_mb": ("shuffle_write_mb", "MB"),
    "spark.spill_mb": ("spill_mb", "MB"),
}
LAYER_UNITS = {
    "session.start_s": "s",
    **{m: "s" for m in SPAN_METRICS.values()},
    "plans.build_jobs": "count",
    "plans.build_cpu_s": "s",
    "plans.build_share": "ratio",
    "spark.run_s": "s",
    "spark.core_util": "ratio",
    **{m: u for m, (_, u) in COUNTER_METRICS.items()},
    "spark.bhj": "count",
    "spark.smj": "count",
    "sinks.bytes_written": "count",
    "streaming.polls": "count",
    "driver.py_cpu_s": "s",
    "trace.overhead_s": "s",
    "trace.uncovered_frac": "ratio",
}


def op_total(op) -> Counters:
    c = Counters()
    for part in op.counters.values():
        c.add(part)
    return c


def pass_cpu(ops) -> float:
    """Executor task CPU of every job the pass ran + driver Python CPU."""
    return sum(op.py_cpu + op_total(op).cpu_s for op in ops)


def counts_repeat(passes) -> dict[str, list]:
    """Members whose exact counters differ between passes (warm-up
    passes included), with the distinct values seen."""
    seen: dict[str, set] = defaultdict(set)
    for ops in passes:
        for op in ops:
            if op.error is None:
                seen[op.member].add(tuple(sorted((ph, c.exact()) for ph, c in op.counters.items())))
    return {m: sorted(s) for m, s in seen.items() if len(s) > 1}


def layer_metrics(passes, tracer, cores: int, session_s: float) -> dict[str, float]:
    traced = [ops for ops in passes if ops[0].traced]
    plain = [ops for ops in passes if not ops[0].traced]
    by_op = self_time_by_op(tracer.spans)
    per_pass: dict[str, list[float]] = defaultdict(list)
    uncovered = covered_total = 0.0
    for ops in traced:
        wall = sum(op.latency for op in ops)
        layer: dict[str, float] = defaultdict(float)
        for op in ops:
            for name, t in by_op.get(op.op_id, {}).items():
                if name == "op":
                    uncovered += t
                else:
                    layer[SPAN_METRICS[name]] += t
            covered_total += op.latency
        total, build, exec_ = Counters(), Counters(), Counters()
        for op in ops:
            total.add(op_total(op))
            if "build" in op.counters:
                build.add(op.counters["build"])
            exec_.add(op.counters.get("exec", Counters()))
        for m in SPAN_METRICS.values():
            per_pass[m].append(layer[m])
        for m, (f, _) in COUNTER_METRICS.items():
            per_pass[m].append(getattr(total, f))
        per_pass["plans.build_jobs"].append(build.jobs)
        per_pass["plans.build_cpu_s"].append(build.cpu_s)
        per_pass["plans.build_share"].append(layer["plans.build_s"] / wall)
        per_pass["spark.run_s"].append(exec_.run_s)
        busy = layer["spark.exec_s"] or wall
        per_pass["spark.core_util"].append(exec_.run_s / (busy * cores))
        per_pass["spark.bhj"].append(sum(op.joins[0] for op in ops))
        per_pass["spark.smj"].append(sum(op.joins[1] for op in ops))
        per_pass["sinks.bytes_written"].append(sum(op.bytes_written for op in ops))
        per_pass["streaming.polls"].append(sum(op.polls for op in ops))
        per_pass["driver.py_cpu_s"].append(sum(op.py_cpu for op in ops))
    out = {m: stats.median(v) for m, v in per_pass.items()}
    out["session.start_s"] = session_s
    out["trace.overhead_s"] = stats.median([sum(o.latency for o in ops) for ops in traced]) - stats.median(
        [sum(o.latency for o in ops) for ops in plain]
    )
    out["trace.uncovered_frac"] = uncovered / covered_total
    return out


def report(args, cores, ops, passes, problems, tracer, setup, timed_s, peak_rss, warm_passes):
    """Returns (detail record, result line)."""
    # a wrong output fails the operation; catalog outputs are checked per
    # member, supplier_batch outputs per operation
    bad = {op.op_id for op in ops if op.error is not None}
    for key, probs in problems.items():
        if probs:
            bad |= {op.op_id for op in ops if key in (op.member, op.op_id)}
    plain = [p for p in passes if not p[0].traced]
    lat = [op.latency for p in plain for op in p]
    e2e = {
        "setup_s": setup["setup_s"],
        "wall_s": stats.median([sum(op.latency for op in p) for p in plain]),
        "lat_p50_s": stats.median(lat),
        "cpu_s": stats.median([pass_cpu(p) for p in plain]),
    }
    tail = stats.tail(lat)
    # the cold first pass fires one-off jobs (file listings, schema reads)
    differ = counts_repeat(warm_passes[1:] + passes)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "cores": cores,
        "attempted": len(ops),
        "failed": len(bad),
        "metrics": {**e2e, "peak_rss_mb": peak_rss},
        "lat_tail": None if tail is None else {"pct": tail[0], "value": tail[1], "n": len(lat)},
        "setup": setup,
        "timed_s": timed_s,
        "pass_walls": [sum(op.latency for op in p) for p in passes],
        "pass_py_cpu": [sum(op.py_cpu for op in p) for p in passes],
        "member_lat": {m: [op.latency for op in ops if op.member == m] for m in dict.fromkeys(o.member for o in ops)},
        "pass_traced": [p[0].traced for p in passes],
        "counts_repeat": not differ,
        "counts_differ": differ,
        "problems": {str(k): v[:3] for k, v in problems.items() if v},
        "errors": sorted({op.error for op in ops if op.error})[:3],
    }
    if args.trace:
        layers = layer_metrics(passes, tracer, cores, setup["session_s"])
        detail["metrics"].update(layers)
        shown = {m: {"value": layers[m], "unit": u} for m, u in LAYER_UNITS.items()}
    else:
        shown = {m: {"value": v, "unit": E2E_UNITS[m]} for m, v in e2e.items()}
    if tail is None:
        print(f"lat_tail_s omitted: {len(lat)} operations leave fewer than "
              f"{stats.MIN_BEYOND} beyond the {stats.MIN_TAIL_PCT}th percentile")
    else:
        print(f"lat_tail_s: p{tail[0]} = {tail[1]:.4f} s over n={len(lat)} operations")
    if differ:
        print(f"FLAG: counters differ between passes for {', '.join(sorted(differ))}")
    line = {"correct": not bad, "attempted": len(ops), "failed": len(bad), "metrics": shown}
    return detail, line
