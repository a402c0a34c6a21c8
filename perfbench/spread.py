"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --seeds 10 [--workload tile_batch ...]

Runs perfbench/run.py once per (workload, seed), one at a time, and for
each end-to-end metric prints the median of its values and the
distance between the first and third quartile as a share of that
median (``statistics.quantiles(values, n=4)``), next to the metric's
bound in BENCHMARK.json. Wall time per run and the worst run are
printed too, since a full set of runs has to fit a fixed time budget.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--verbose", action="store_true", help="print every value")
    args = ap.parse_args(argv)
    names = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for name in names:
        values: dict = {m: [] for m in bounds}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True)
            walls.append(time.perf_counter() - t)
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            if proc.returncode or not res["correct"] or res["failed"]:
                print(f"{name} seed {seed}: exit {proc.returncode}, {res}")
                ok = False
            for m, v in res["metrics"].items():
                values[m].append(v["value"])
        print(f"{name}: wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for m, vals in values.items():
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / q2
            flag = "" if spread <= bounds[m] / 3 else ("  > bound/3" if spread <= bounds[m] else "  > BOUND")
            ok &= spread <= bounds[m] or m == "setup_s"
            print(f"  {m:14s} median {q2:12.3f}  spread {spread:6.3f}  bound {bounds[m]}{flag}")
            if args.verbose:
                print("    " + " ".join(f"{v:.4g}" for v in vals))
        sys.stdout.flush()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
