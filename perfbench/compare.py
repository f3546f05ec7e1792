#!/usr/bin/env python3
"""Compare two result sets of the benchmark, per workload and metric.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

A result set is a directory of files named <workload>-<seed>.<ext>, each
holding the stdout of one `perfbench/run.py` run (its last line is the
result object). For every workload and metric the table gives each
side's median and quartiles (Python's statistics.quantiles, n=4), the
change of the median, the pairs NEW won (runs paired by seed; ties count
for neither side) and a verdict against the metric's bound from
BENCHMARK.json:

  worse       NEW's median is worse than BASE's by more than the bound
  unresolved  BASE's own spread (q3 - q1) / median exceeds the bound
  ok          otherwise

Exit status is 1 when any metric is "worse" or any run was incorrect.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec():
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    return [w["name"] for w in spec["workloads"]], metrics


def load_set(d, workloads):
    """{workload: {seed: result}} from the files in directory d."""
    out = {}
    for name in sorted(os.listdir(d)):
        stem = name.rsplit(".", 1)[0]
        wl = next((w for w in workloads if stem.startswith(w + "-")), None)
        if wl is None:
            continue
        seed = stem[len(wl) + 1:]
        lines = [l for l in open(os.path.join(d, name)).read().splitlines() if l.strip()]
        if not lines:
            continue
        try:
            out.setdefault(wl, {})[seed] = json.loads(lines[-1])
        except json.JSONDecodeError:
            print(f"{d}/{name}: last line is not a result", file=sys.stderr)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    workloads, spec = load_spec()
    base, new = load_set(sys.argv[1], workloads), load_set(sys.argv[2], workloads)
    bad = False
    hdr = f"{'workload':12} {'metric':26} {'base median [q1,q3]':>30} {'new median [q1,q3]':>30} {'change':>8} {'won':>7}  verdict"
    print(hdr)
    print("-" * len(hdr))
    for wl in workloads:
        b, n = base.get(wl, {}), new.get(wl, {})
        for side, runs in (("base", b), ("new", n)):
            wrong = [s for s, r in runs.items() if not r.get("correct") or r.get("failed")]
            if wrong:
                bad = True
                print(f"{wl}: {side} runs with failures or incorrect output: seeds {wrong}")
        names = sorted({k for r in list(b.values()) + list(n.values()) for k in r.get("metrics", {})},
                       key=lambda k: list(spec).index(k) if k in spec else 999)
        for m in names:
            bv = {s: r["metrics"][m]["value"] for s, r in b.items() if m in r.get("metrics", {})}
            nv = {s: r["metrics"][m]["value"] for s, r in n.items() if m in r.get("metrics", {})}
            if not bv or not nv:
                continue
            bq, nq = quartiles(sorted(bv.values())), quartiles(sorted(nv.values()))
            lower = spec.get(m, {}).get("better", "lower") == "lower"
            change = (nq[1] - bq[1]) / bq[1] if bq[1] else 0.0
            worse_by = change if lower else -change
            pairs = [(bv[s], nv[s]) for s in bv if s in nv]
            won = sum(1 for x, y in pairs if (y < x if lower else y > x))
            bound = spec.get(m, {}).get("bound")
            spread = (bq[2] - bq[0]) / bq[1] if bq[1] else 0.0
            verdict = ""
            if bound is not None:
                if worse_by > bound:
                    verdict, bad = "worse", True
                elif spread > bound:
                    verdict = "unresolved"
                else:
                    verdict = "ok"
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g},{q[2]:.4g}]"
            print(f"{wl:12} {m:26} {fmt(bq):>30} {fmt(nq):>30} {change:>+8.1%} {won:>3}/{len(pairs):<3}  {verdict}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
