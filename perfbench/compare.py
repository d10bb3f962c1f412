#!/usr/bin/env python3
"""Compare two sets of benchmark runs made by perfbench/sweep.py.

    python3 perfbench/compare.py base.jsonl new.jsonl

For every workload and metric in both files: the median and quartiles
of each side, the spread (quartile distance over the median), and the
change of the new median against the base median. A change counts as
worse than its bound when it moves the wrong way by more than the
metric's bound in BENCHMARK.json; a change inside the base's own spread
is marked unresolved. Also prints each side's failure count and the
box-state probe (cpu_probe_ms, load1), so runs on a noisy box can be
told apart. One file alone prints its own summary.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                rec = json.loads(line)
                runs.setdefault(rec["workload"], []).append(rec)
    return runs


def summary(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v, 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    sides = [load(p) for p in sys.argv[1:3]]
    for w in sorted(set().union(*[s.keys() for s in sides])):
        print(f"== {w}")
        for name, runs in zip(sys.argv[1:3], sides):
            rs = runs.get(w, [])
            probe = [r["detail"]["box"]["cpu_probe_ms"] for r in rs]
            print(f"  {name}: {len(rs)} runs, failed ops {sum(r['result']['failed'] for r in rs)}, "
                  f"incorrect runs {sum(not r['result']['correct'] for r in rs)}, "
                  f"cpu_probe_ms median {statistics.median(probe) if probe else 0:.0f}")
        names = sorted({k for s in sides for r in s.get(w, []) for k in r["result"]["metrics"]})
        for k in names:
            cols = []
            stats = []
            for s in sides:
                vals = [r["result"]["metrics"][k]["value"] for r in s.get(w, []) if k in r["result"]["metrics"]]
                if vals:
                    st = summary(vals)
                    stats.append(st)
                    cols.append(f"{st[0]:12.3f} [{st[1]:.3f}, {st[2]:.3f}] spread {st[3]:.3f}")
            line = f"  {k:45s} " + " | ".join(cols)
            if len(stats) == 2 and k in meta and stats[0][0]:
                m = meta[k]
                change = stats[1][0] / stats[0][0] - 1
                worse = -change if m["better"] == "higher" else change
                verdict = ""
                if "bound" in m:
                    if abs(change) <= stats[0][3]:
                        verdict = "unresolved"
                    elif worse > m["bound"]:
                        verdict = "WORSE THAN BOUND"
                    elif worse < 0:
                        verdict = "better"
                    else:
                        verdict = "within bound"
                line += f"  change {change:+.1%} {verdict}"
            print(line)


if __name__ == "__main__":
    main()
