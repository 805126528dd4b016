"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workload warehouse --seeds 1-10 [--out runs.json]

For each end-to-end metric it prints the median, the quartiles
(``statistics.quantiles(values, n=4)``), the interquartile distance as
a share of the median, and the metric's bound from BENCHMARK.json.
Runs go one after another from the repository root, each in its own
process, exactly as ``BENCHMARK.json``'s command runs them.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-4000:])
            raise SystemExit(f"seed {seed}: exit code {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        res.update(seed=seed, wall_s=wall)
        runs.append(res)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {seed:>3} wall {wall:5.1f}s correct={res['correct']} failed={res['failed']} {vals}", flush=True)
    print(f"\n{args.workload}: {len(runs)} runs, wall median {statistics.median(r['wall_s'] for r in runs):.1f}s")
    print(f"{'metric':<14} {'median':>10} {'q1':>10} {'q3':>10} {'iqr/med':>8} {'bound':>6}")
    summary = {}
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound}
        flag = "" if spread < bound / 3 else ("  > bound/3" if spread <= bound else "  > BOUND")
        print(f"{name:<14} {med:10.4g} {q1:10.4g} {q3:10.4g} {spread:8.3f} {bound:6.2f}{flag}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
