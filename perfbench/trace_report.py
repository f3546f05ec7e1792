#!/usr/bin/env python3
"""Turn one traced run into the per-layer table.

    python3 perfbench/trace_report.py .bench_runs/<workload>-<seed>-trace.json [--untraced RESULT]

Prints, for each module (the first word of a span's name), the spans
recorded, their total self time and its share of the run's wall time;
then the per-layer metrics and the run's detail figures. A span's self
time is its duration minus the part of it that its child spans cover.
Spans of concurrent threads (the two streaming queries, the reader)
overlap, so streaming shares can add up to more than 100%.

It also checks that within each operation (a query, a micro-batch, a
read, the snapshot) the self times of the operation and everything
under it add up to the operation's wall time, and exits 1 if they do
not. With --untraced, given the stdout of an untraced run of the same
workload and seed, it reports the tracing overhead: traced minus
untraced for each end-to-end metric.
"""
import argparse
import json
from collections import defaultdict

OPERATIONS = ("query:", "stream.", "read.", "snapshot")


def covered(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def module(name):
    return name.split(":")[0].split(".")[0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace")
    ap.add_argument("--untraced", help="stdout of an untraced run of the same workload and seed")
    args = ap.parse_args()
    t = json.load(open(args.trace))
    spans = {s[0]: {"id": s[0], "parent": s[1], "name": s[2], "start": s[3], "end": s[4]}
             for s in t["spans"]}
    kids = defaultdict(list)
    for s in spans.values():
        if s["parent"] in spans:
            kids[s["parent"]].append(s)
    for s in spans.values():
        dur = s["end"] - s["start"]
        s["self"] = dur - covered([(c["start"], c["end"]) for c in kids[s["id"]]], s["start"], s["end"])

    root = next(s for s in spans.values() if s["parent"] not in spans)
    wall = root["end"] - root["start"]
    print(f"workload {t['workload']}  seed {t['seed']}  traced wall {wall / 1e3:.2f} s")
    by_mod = defaultdict(lambda: [0, 0.0])
    for s in spans.values():
        by_mod[module(s["name"])][0] += 1
        by_mod[module(s["name"])][1] += s["self"]
    print(f"\n{'module':12} {'spans':>6} {'self s':>10} {'share':>7}")
    for m, (n, self_ms) in sorted(by_mod.items(), key=lambda kv: -kv[1][1]):
        print(f"{m:12} {n:>6} {self_ms / 1e3:>10.3f} {self_ms / wall:>7.1%}")

    def subtree_self(s):
        return s["self"] + sum(subtree_self(c) for c in kids[s["id"]])

    worst = defaultdict(float)
    for s in spans.values():
        if s["name"].startswith(OPERATIONS) and not any(
                spans.get(s["parent"], {}).get("name", "").startswith(p) for p in OPERATIONS):
            gap = abs(subtree_self(s) - (s["end"] - s["start"]))
            worst[s["name"].split(":")[0]] = max(worst[s["name"].split(":")[0]], gap)
    ok = all(v < 0.01 for v in worst.values())
    print("\nself times within each operation add up to its wall time: "
          + ("yes" if ok else "NO") + "  (largest gap ms: "
          + ", ".join(f"{k} {v:.4f}" for k, v in sorted(worst.items())) + ")")

    print(f"\n{'per-layer metric':28} value")
    for k, v in t["per_layer"].items():
        print(f"{k:28} {v}")
    print(f"\n{'detail':34} value")
    for k, v in t["detail"].items():
        print(f"{k:34} {v}")

    if args.untraced:
        lines = [l for l in open(args.untraced).read().splitlines() if l.strip()]
        un = {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}
        print(f"\n{'tracing overhead':22} {'traced':>12} {'untraced':>12} {'diff':>12}")
        for k, tv in t["end_to_end"].items():
            if k in un:
                d = tv - un[k]
                rel = f"{d / un[k]:+.1%}" if un[k] else ""
                print(f"{k:22} {tv:>12.4g} {un[k]:>12.4g} {d:>+12.4g} {rel}")
    raise SystemExit(0 if ok else 1)


if __name__ == "__main__":
    main()
