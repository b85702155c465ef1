"""Steadiness check: run one workload several times, each with another
seed, and print each end-to-end metric's median and quartile spread
beside its bound from BENCHMARK.json.

  python3 perfbench/steady.py --workload warehouse_daily [--runs 10] [--seed0 1]
                              [--save set1.json] [--against set0.json]

The spread is (Q3 - Q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``. ``--against`` compares this set's
medians with a saved earlier set, as two sets of runs of one commit
should agree within each bound.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = time.time() - t0
    return out


def spread(values: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else 0.0, q2


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--save", help="write the runs' results here")
    ap.add_argument("--against", help="a saved set to compare medians with")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for i in range(args.runs):
        r = run_once(args.workload, args.seed0 + i, bench["run_seconds"], args.trace)
        runs.append(r)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
        print(f"seed {args.seed0 + i}: {r['wall_s']:.0f} s wall, {r['failed']}/{r['attempted']} failed, {vals}", flush=True)
    if args.save:
        with open(args.save, "w") as f:
            json.dump(runs, f, indent=1)
    prev = json.load(open(args.against)) if args.against else None

    shares = {r["failed"] / r["attempted"] for r in runs}
    print(f"\nfailed share: {sorted(shares)}  (must be one value)")
    print(f"run wall: median {statistics.median(r['wall_s'] for r in runs):.1f} s, max {max(r['wall_s'] for r in runs):.1f} s")
    print(f"{'metric':28s} {'median':>12s} {'spread':>8s} {'bound':>6s} {'spread/bound':>13s} {'vs prev':>8s}")
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med, sp, _ = spread(values)
        bound = bounds.get(name)
        ratio = f"{sp / bound:.2f}" if bound else "-"
        vs = ""
        if prev:
            pmed = statistics.median(r["metrics"][name]["value"] for r in prev)
            vs = f"{(med - pmed) / pmed:+.3f}"
        print(f"{name:28s} {med:12.4f} {sp:8.3f} {bound if bound is not None else '-':>6} {ratio:>13s} {vs:>8s}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
