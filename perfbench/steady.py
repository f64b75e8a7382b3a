"""Steadiness check: run one workload N times and report each metric's
median, quartiles and spread against its bound.

    python3 perfbench/steady.py --workload audience_scripts --runs 10 --seeds 1,2,3
    python3 perfbench/steady.py --workload propensity_daily --runs 5 --seeds 7 --trace 1

Run from the checkout root. Run i uses seed ``seeds[i % len(seeds)]``
(one seed repeats it; several alternate). The spread is the distance
between the first and third quartile (``statistics.quantiles(n=4)``)
over the median; a metric is steady when its spread is below a third of
the bound in BENCHMARK.json. Every run's result line is appended to
``--log`` when given.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float, list[str]]:
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", str(trace),
    ]
    t = time.perf_counter()
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    wall = time.perf_counter() - t
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"run failed ({proc.returncode}): {proc.stderr[-2000:]}")
    notes = [ln for ln in proc.stderr.splitlines() if ln.startswith("perfbench:")]
    return json.loads(lines[-1]), wall, notes


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seeds", default="1")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--log", default="")
    args = p.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    seeds = [int(s) for s in args.seeds.split(",")]
    results = []
    for i in range(args.runs):
        seed = seeds[i % len(seeds)]
        res, wall, notes = run_once(args.workload, seed, bench["run_seconds"], args.trace)
        results.append(res)
        print(f"run {i + 1}/{args.runs} seed {seed}: {wall:.1f} s, attempted {res['attempted']}, "
              f"failed {res['failed']}, correct {res['correct']}", flush=True)
        for note in notes:
            print("   ", note, flush=True)
        if args.log:
            with open(args.log, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, "wall_s": wall, "notes": notes, **res}) + "\n")
    shares = sorted({r["failed"] / r["attempted"] for r in results})
    print(f"failed share per run: {shares}")
    print(f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}  verdict")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        if len(vals) < 2:
            print(f"{name:28} {vals[0]:12.4f}")
            continue
        med, q1, q3, sp = spread(vals)
        bound = bounds.get(name)
        verdict = ""
        if bound is not None:
            verdict = "steady" if sp < bound / 3 else ("within bound" if sp <= bound else "TOO NOISY")
        print(f"{name:28} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:8.3f} {bound if bound is not None else '':>6}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
