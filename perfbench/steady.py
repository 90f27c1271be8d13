"""Run the benchmark several times per workload, one seed per run, and
print each end-to-end metric's median, quartiles and quartile spread
as a share of the median, the wall time of each run, and the warm-up
curve: the median over the runs of each pass's wall time, CPU and box
steal, from the per-pass list in each run's summary line.

    python3 perfbench/steady.py --workloads archive curation --runs 10

Each run measures BENCHMARK.json's ``run_seconds``. These are the
figures BENCHMARK.json's bounds are held to: the spread
(Q3 - Q1) / median of every end-to-end metric except ``setup_s`` must
stay within its bound, and between two such sets of the same commit
no median, ``setup_s``'s too, may get worse by more than its bound.
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


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for wl in args.workloads:
        values: dict[str, list[float]] = {}
        walls, curves, failed = [], [], 0
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.perf_counter()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True,
            )
            walls.append(time.perf_counter() - t0)
            lines = out.stdout.strip().splitlines()
            curves.append(json.loads(lines[0])["curve"])
            result = json.loads(lines[-1])
            failed += result["failed"]
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            shown = " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items())
            steal = statistics.median(pt["steal_s"] for pt in curves[-1] if pt["phase"] == "timed")
            print(f"{wl} seed {seed}: {walls[-1]:.1f} s, failed {result['failed']}, "
                  f"steal {steal:.2f} s/pass: {shown}", flush=True)
        print(f"== {wl}: {args.runs} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s, failed ops {failed}")
        for name, vals in values.items():
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(name)
            note = f" bound {bound}" if bound is not None else ""
            print(f"  {name:26s} median {med:10.4f}  Q1 {q1:10.4f}  Q3 {q3:10.4f}  "
                  f"spread {spread:6.3f}{note}")
        print("  pass  phase   wall s   CPU-s  steal s  (medians over the runs)")
        for points in zip(*curves):
            cols = [statistics.median(pt[k] for pt in points) for k in ("wall_s", "cpu_s", "steal_s")]
            print(f"  {points[0]['pass']:4d}  {points[0]['phase']:6s} {cols[0]:7.2f} {cols[1]:7.2f} {cols[2]:8.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
