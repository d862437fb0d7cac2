#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end metric's
spread: the distance between its first and third quartile as a share of its
median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [--workload NAME ...]

Run from the root of a graft checkout. Results also go to
.bench_build/perfbench/spread.jsonl, one line per run.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable); default: all")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    log = ROOT / ".bench_build" / "perfbench" / "spread.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    ok = True
    for wl in workloads:
        values = {}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.time()
            p = subprocess.run(spec["command"] + ["--workload", wl, "--seed", str(seed),
                                                  "--seconds", str(spec["run_seconds"]),
                                                  "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                print(f"{wl} seed {seed}: exit {p.returncode}", file=sys.stderr)
                ok = False
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            with log.open("a") as f:
                f.write(json.dumps({"workload": wl, "seed": seed, "wall_s": wall, **res}) + "\n")
            ok &= res["correct"] and res["failed"] == 0
            print(f"{wl} seed {seed}: {wall:.1f}s correct={res['correct']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  file=sys.stderr)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for m in spec["end_to_end"]:
            xs = values.get(m["name"], [])
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            print(f"{wl:20s} {m['name']:14s} median={med:.4g} spread={spread:.4f} "
                  f"bound={m['bound']} ({spread / m['bound']:.2f} of bound)")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
