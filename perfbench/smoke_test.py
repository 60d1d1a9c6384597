#!/usr/bin/env python3
"""Smoke self-test of the benchmark, at tiny sizes (sf 0.001, a few hundred
docs, a handful of operations). About eight minutes on four cores.

Usage (from the repository root):

    python3 perfbench/smoke_test.py

Asserts that:
- the harness's own helpers pass (the tail-percentile rule: the highest
  percentile up to p90 with at least ten samples beyond it);
- every workload in BENCHMARK.json prints a result line with exactly the
  end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1) that
  BENCHMARK.json names, each with its unit, and no failed check (and
  pg_point_read, run by name, its end-to-end metrics);
- run.py exits non-zero without a result in a directory that holds only
  BENCHMARK.json and the benchmark's own files.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)


def check(cond, what):
    if not cond:
        print(f"FAIL: {what}")
        sys.exit(1)
    print(f"ok   {what}", flush=True)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = run(["--selftest"])
    check(p.returncode == 0 and "selftest ok" in p.stdout,
          "harness self-test (percentile helper)"
          + ("" if p.returncode == 0 else f": {p.stdout.strip()} {p.stderr[-600:]}"))
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run(["--workload", w["name"], "--seed", "1", "--seconds", "1",
                     "--trace", str(trace), "--smoke"])
            check(p.returncode == 0, f"{w['name']} trace={trace} exits 0"
                  + ("" if p.returncode == 0 else f": {p.stderr[-600:]}"))
            res = json.loads(p.stdout.strip().splitlines()[-1])
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{w['name']} trace={trace} result keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w['name']} trace={trace} outputs correct "
                  f"({res['failed']} of {res['attempted']} failed)")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w['name']} trace={trace} emits every {key} metric with its unit"
                  + ("" if got == want else f": missing {sorted(set(want) - set(got))}, "
                     f"extra {sorted(set(got) - set(want))}, units "
                     f"{sorted(k for k in want if k in got and got[k] != want[k])}"))
            check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                  f"{w['name']} trace={trace} values are numbers")
    # pg_point_read is not in BENCHMARK.json but stays runnable by name
    p = run(["--workload", "pg_point_read", "--seed", "1", "--seconds", "1", "--trace", "0",
             "--smoke"])
    res = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else {}
    check(res.get("correct") and res.get("attempted", 0) >= 1 and
          set(res["metrics"]) == {m["name"] for m in bench["end_to_end"]},
          "pg_point_read runs by name with correct rows and the end-to-end metrics"
          + ("" if p.returncode == 0 else f": {p.stderr[-600:]}"))
    # a directory with only BENCHMARK.json and the benchmark's files
    bare = os.path.join(ROOT, "perfbench", "work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("work", "target"))
    p = run(["--workload", bench["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
             "--trace", "0"], cwd=bare)
    check(p.returncode != 0 and '"metrics"' not in p.stdout,
          f"run.py fails without a result when the engine sources are absent (exit {p.returncode})")
    shutil.rmtree(bare, ignore_errors=True)
    print("smoke test passed")


if __name__ == "__main__":
    main()
