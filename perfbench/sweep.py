#!/usr/bin/env python3
"""Run one workload over several seeds and append each run's result.

    python3 perfbench/sweep.py --workload graph_mixed --seeds 1-10 --out base.jsonl

Each output line is {"workload", "seed", "trace", "result", "detail"}:
the final JSON line of perfbench/run.py and its GRAFTBENCH_DETAIL line.
Runs use BENCHMARK.json's run_seconds unless --seconds is given. A run
that fails is reported on stderr and left out of the file.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,7")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = args.seconds or json.load(f)["run_seconds"]
    for seed in seeds(args.seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=ROOT)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: run failed\n{r.stderr[-3000:]}", file=sys.stderr)
            continue
        rec = {"workload": args.workload, "seed": seed, "trace": args.trace,
               "result": json.loads(lines[-1]), "detail": json.loads(lines[-2].split(" ", 1)[1])}
        with open(args.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        m = {k: round(v["value"], 3) for k, v in rec["result"]["metrics"].items()}
        print(f"seed {seed}: correct={rec['result']['correct']} failed={rec['result']['failed']} {m}",
              flush=True)


if __name__ == "__main__":
    main()
