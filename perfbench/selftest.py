#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json end to end with small inputs
(--size tiny: a few thousand changes, one batch query per module) and
checks that

  - untraced runs print every end-to-end metric, traced runs every
    per-layer metric, each with the unit BENCHMARK.json gives it;
  - the correctness gates pass (exit status 0, "correct": true);
  - a corrupted expected fingerprint makes the batch run fail;
  - the result line stays under 2000 characters, so a capture that
    keeps only the tail of stdout still holds all of it.

Takes a few minutes; exits 1 on the first failed check.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_LINE = 2000


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--size", "tiny", *extra]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (lines[-1] if lines else ""), r.stderr


def check(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg)
    if not cond:
        sys.exit(1)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, line, err = run(w, trace)
            check(code == 0, f"{w} trace={trace}: exit 0" + ("" if code == 0 else f" (got {code})\n{err[-2000:]}"))
            res = json.loads(line)
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{w} trace={trace}: result keys")
            check(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w} trace={trace}: gates pass")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w} trace={trace}: every {key} metric with its unit")
            check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                  f"{w} trace={trace}: numeric values")
            check(len(line) < MAX_LINE, f"{w} trace={trace}: result line {len(line)} < {MAX_LINE} chars")

    bad = os.path.join(ROOT, ".bench_runs", "expected-corrupted.json")
    os.makedirs(os.path.dirname(bad), exist_ok=True)
    exp = json.load(open(os.path.join(HERE, "expected.json")))
    for k in exp:
        exp[k][1] = str(int(exp[k][1]) + 1)
    json.dump(exp, open(bad, "w"))
    code, line, err = run("batch", 0, "--expected", bad)
    check(code != 0 and line and json.loads(line)["correct"] is False,
          "batch with a corrupted expected hash fails")
    os.remove(bad)
    print("self-test passed")


if __name__ == "__main__":
    main()
