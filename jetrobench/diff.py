#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 jetrobench/diff.py A.out B.out

Each file holds the stdout of any number of ``run.py`` invocations; the
detail line of every run is picked up. Per workload (traced and untraced
runs apart) it prints each metric's median and quartiles on both sides
and the change of the median. A change counts as a move when it exceeds
the larger inter-quartile spread of the two sides (at least MIN_MOVE).
When ``wall_s`` moved but ``cpu_s`` did not, the verdict is
"contention": the machine, not the code, changed. On traced runs it
names the layer whose self time moved most.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from metrics import SPAN_METRICS  # noqa: E402

MIN_MOVE = 0.02


def load(path: str) -> dict[tuple[str, int], list[dict]]:
    runs: dict[tuple[str, int], list[dict]] = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                continue
            if "workload" in rec and "metrics" in rec:
                runs[(rec["workload"], rec["trace"])].append(rec)
    return runs


def moved(a: list[float], b: list[float]) -> tuple[float, bool]:
    """(relative change of the median, whether it is a move)."""
    ma, mb = stats.median(a), stats.median(b)
    if ma == 0:
        return (0.0, False) if mb == 0 else (float("inf"), True)
    change = (mb - ma) / abs(ma)
    noise = max(stats.spread(a) if len(a) > 1 else 0.0, stats.spread(b) if len(b) > 1 else 0.0, MIN_MOVE)
    return change, abs(change) > noise


def compare(key, ra: list[dict], rb: list[dict]) -> list[str]:
    workload, trace = key
    out = [f"== {workload}{' (traced)' if trace else ''}: A {len(ra)} runs, B {len(rb)} runs"]
    names = sorted(set(ra[0]["metrics"]) & set(rb[0]["metrics"]))
    changes = {}
    for m in names:
        a = [r["metrics"][m] for r in ra]
        b = [r["metrics"][m] for r in rb]
        change, is_move = moved(a, b)
        changes[m] = (change, is_move, stats.median(b) - stats.median(a))
        qa, qb = stats.quartiles(a), stats.quartiles(b)
        out.append(
            f"  {m:24s} A {qa[1]:11.4f} [{qa[0]:.4f}, {qa[2]:.4f}]"
            f"  B {qb[1]:11.4f} [{qb[0]:.4f}, {qb[2]:.4f}]"
            f"  {change:+8.1%}{'  moved' if is_move else ''}"
        )
    if "wall_s" in changes and "cpu_s" in changes:
        w, c = changes["wall_s"], changes["cpu_s"]
        if w[1] and not c[1]:
            out.append(f"  verdict: contention (wall_s {w[0]:+.1%}, cpu_s {c[0]:+.1%} did not move)")
        elif w[1]:
            out.append(f"  verdict: code (wall_s {w[0]:+.1%} with cpu_s {c[0]:+.1%})")
        else:
            out.append("  verdict: no move in wall_s")
    layers = [m for m in SPAN_METRICS.values() if m in changes]
    if trace and layers:
        top = max(layers, key=lambda m: abs(changes[m][2]))
        out.append(f"  layer that moved most: {top} {changes[top][2]:+.4f} s ({changes[top][0]:+.1%})")
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = load(argv[0]), load(argv[1])
    keys = sorted(set(a) & set(b))
    if not keys:
        print("no workload appears in both result sets", file=sys.stderr)
        return 1
    for key in keys:
        print("\n".join(compare(key, a[key], b[key])))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
