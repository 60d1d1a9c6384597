#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the acceptance rule
takes it: for each metric, the distance between the first and third
quartile of its values over several seeds, as a share of their median.

Usage (from the repository root):

    python3 perfbench/spread.py --workload <name> [--seeds 1-10] [--out runs.jsonl]

Prints one row per metric with its median, quartiles, spread and the
spread's share of the metric's bound in BENCHMARK.json, plus the wall time
and /proc/stat steal ticks of each run. Raw result lines are appended to
--out when given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, walls = {}, []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                            "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}")
            continue
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        steal = json.loads(lines[-2])["env"]["steal_ticks"] if len(lines) > 1 else None
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": s, "wall_s": walls[-1],
                                    "steal_ticks": steal, "result": res}) + "\n")
        print(f"seed {s}: {walls[-1]:.0f}s steal={steal} correct={res['correct']} failed={res['failed']}/"
              f"{res['attempted']} " + " ".join(f"{k}={v['value']:.4g}"
                                                  for k, v in sorted(res["metrics"].items())),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':<12} {'n':>3} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} {'/bound':>7}")
    for k, xs in sorted(values.items()):
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        b = bounds.get(k)
        print(f"{k:<12} {len(xs):>3} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} {spread:>7.3f} "
              f"{(spread / b if b else float('nan')):>7.2f}")
    print(f"wall per run: median {statistics.median(walls):.0f}s, max {max(walls):.0f}s")


if __name__ == "__main__":
    main()
