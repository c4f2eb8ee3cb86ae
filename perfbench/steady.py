#!/usr/bin/env python3
"""Steadiness check: run the benchmark in sets of seeds and compare.

    python3 perfbench/steady.py --runs 10 --sets 2 [--workload dashboard ...]

For each workload, each set runs ``run.py`` once per seed (set ``s`` uses
seeds ``1000*s + 1 .. 1000*s + runs``) with ``--trace 0``. For every
end-to-end metric it prints the set's median and its spread (the distance
between the first and third quartile as a share of the median), and
between sets the change of the median, each against the metric's bound
in BENCHMARK.json. A traced run per workload (``--traced``) adds the
tracing overhead: the traced minus the untraced median latency.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        sys.stderr.write(out.stderr[-2000:])
    return res


def spread(xs: list[float]) -> tuple[float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q2, (q3 - q1) / q2


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    ap.add_argument("--workload", action="append", choices=names)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in args.workload or names:
        medians: list[dict[str, float]] = []
        for s in range(args.sets):
            runs = [run_once(w, 1000 * s + i + 1, bench["run_seconds"], 0)
                    for i in range(args.runs)]
            bad = sum(not r["correct"] for r in runs)
            print(f"{w} set {s + 1}: {args.runs} runs, {bad} with failed checks, "
                  f"{sum(r['failed'] for r in runs)}/{sum(r['attempted'] for r in runs)} "
                  "operations failed")
            medians.append({})
            for name, bound in bounds.items():
                xs = [r["metrics"][name]["value"] for r in runs]
                med, sp = spread(xs)
                medians[-1][name] = med
                flag = "" if name == "setup_s" or sp <= bound / 3 else \
                    ("  over bound/3" if sp <= bound else "  OVER BOUND")
                ok &= name == "setup_s" or sp <= bound
                print(f"  {name:16s} median {med:12.4f}  spread {sp:6.3f}  "
                      f"bound {bound:.3f}{flag}")
                print("    runs: " + " ".join(f"{x:.4g}" for x in xs))
        for name, bound in bounds.items():
            if len(medians) < 2:
                break
            a, b = medians[0][name], medians[-1][name]
            lower = next(m["better"] == "lower" for m in bench["end_to_end"] if m["name"] == name)
            worse = (b - a) / a if lower else (a - b) / a
            ok &= worse <= bound
            print(f"  {name:16s} set 2 vs set 1: {worse:+.3f} worse (bound {bound:.3f})")
        if args.traced:
            traced = run_once(w, 1, bench["run_seconds"], 1)["metrics"]
            overhead = traced["trace.latency_p50_ms"]["value"] - medians[0]["latency_p50_ms"]
            print(f"  tracing overhead on latency_p50_ms: {overhead:+.1f} ms")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
