#!/usr/bin/env python3
"""Run-to-run spread of the benchmark, computed the way its acceptance check
computes it, plus the tracing overhead.

    python3 perfbench/spread.py --workload serve --seeds 1 2 3 4 5
    python3 perfbench/spread.py --workload serve --seeds 1 2 3 4 5 --no-run

Runs ``perfbench/run.py`` once per seed, one run at a time (``--no-run``
reads the result files of earlier runs from ``.perfbench_out/`` instead),
then prints for every end-to-end metric the median over the seeds and the
quartile spread ``(Q3 - Q1) / median`` from ``statistics.quantiles(n=4)``,
next to the metric's bound in BENCHMARK.json.  Where traced results
(``--trace 1``) exist for the same seeds, it also prints the tracing
overhead: the traced minus the untraced median of each metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(workload: str, seed: int, trace: int) -> dict | None:
    path = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{seed}-trace{trace}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--no-run", action="store_true", help="only read earlier results")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if not args.no_run:
        for seed in args.seeds:
            cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            print(f"seed {seed}: exit {r.returncode} {last[:120]}", file=sys.stderr)
    runs = [r for r in (load(args.workload, s, 0) for s in args.seeds) if r is not None]
    traced = [r for r in (load(args.workload, s, 1) for s in args.seeds) if r is not None]
    print(f"{args.workload}: {len(runs)} untraced runs, {len(traced)} traced, "
          f"all correct: {all(r['correct'] for r in runs)}")
    print(f"{'metric':24} {'median':>14} {'spread':>8} {'bound':>6}  {'traced-untraced':>16}")
    for m in bench["end_to_end"]:
        vals = [r["end_to_end"][m["name"]]["value"] for r in runs]
        if len(vals) < 2:
            continue
        med = statistics.median(vals)
        q1, _q2, q3 = statistics.quantiles(vals, n=4)
        over = ""
        tvals = [r["per_layer"][f"traced.{m['name']}"]["value"] for r in traced]
        if tvals:
            over = f"{statistics.median(tvals) - med:+.4g}"
        flag = "" if (q3 - q1) / med <= m["bound"] / 3 else "  <-- above bound/3"
        print(f"{m['name']:24} {med:14.6g} {(q3 - q1) / med:8.3f} {m['bound']:6.2f}  {over:>16}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
