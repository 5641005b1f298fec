#!/usr/bin/env python3
"""Spread and repeatability of the benchmark's own numbers.

    python3 perfbench/steady.py spread --seeds 1-10 [--workloads a,b]
        one untraced run per seed and workload; per end-to-end metric the
        median and the quartile distance as a share of the median, next
        to the metric's bound (BENCHMARK.json)
    python3 perfbench/steady.py counts --seed 1 [--workloads a,b]
        two traced runs on one seed; lists each per-layer count that does
        not repeat exactly (such a count must not be cited as a count)

Run from the repository root; every run goes through run.py.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
from run import COUNTS  # noqa: E402


def run(workload: str, seed: int, trace: int, seconds: int) -> tuple:
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    try:
        out = json.loads(last)
    except ValueError:
        out = {}
    return p.returncode, out, time.time() - t0


def seeds(spec: str) -> list:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("spread", "counts"))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bad = 0
    for w in names:
        if args.mode == "spread":
            vals, walls = {}, []
            for s in seeds(args.seeds):
                rc, out, wall = run(w, s, 0, bench["run_seconds"])
                walls.append(wall)
                if rc != 0 or not out.get("correct"):
                    print(f"{w} seed {s}: exit {rc}, correct={out.get('correct')}")
                    bad += 1
                for k, m in out.get("metrics", {}).items():
                    vals.setdefault(k, []).append(m["value"])
                print(f"{w} seed {s}: {wall:.0f} s " + " ".join(
                    f"{k}={m['value']:.4g}" for k, m in out.get("metrics", {}).items()), flush=True)
            for m in bench["end_to_end"]:
                v = vals.get(m["name"], [])
                if len(v) < 4:
                    continue
                q = statistics.quantiles(v, n=4)
                med = statistics.median(v)
                spread = (q[2] - q[0]) / med
                print(f"{w} {m['name']}: median {med:.4g} {m['unit']}, spread {spread:.3f} "
                      f"(bound {m['bound']}, {spread / m['bound']:.2f} of it)")
            print(f"{w}: wall per run median {statistics.median(walls):.0f} s, max {max(walls):.0f} s")
        else:
            outs = [run(w, args.seed, 1, bench["run_seconds"])[1] for _ in range(2)]
            a, b = (o.get("metrics", {}) for o in outs)
            for k in sorted(set(a) | set(b)):
                if k in COUNTS or k.endswith(".jobs") or k in (
                        "ingest.compactions", "ingest.files_per_bucket_max"):
                    va, vb = a.get(k, {}).get("value"), b.get(k, {}).get("value")
                    flag = "repeats" if va == vb else "DOES NOT REPEAT"
                    print(f"{w} {k}: {va} / {vb} {flag}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
