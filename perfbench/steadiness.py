#!/usr/bin/env python3
"""Run the benchmark over many seeds and summarize how steady each metric is.

    python3 perfbench/steadiness.py run --workload olap --seeds 101-110 --out olap.jsonl
    python3 perfbench/steadiness.py summarize olap.jsonl graph_iter.jsonl

`run` appends one line per seed: {"seed", "rc", "wall", "result",
"report"}. `summarize` prints, per file and metric, the median and the
spread: the distance between the first and third quartiles
(`statistics.quantiles(values, n=4)`) as a share of the median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run(args):
    lo, hi = (int(x) for x in args.seeds.split("-"))
    for seed in range(lo, hi + 1):
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        row = {"seed": seed, "rc": proc.returncode,
               "wall": round(time.monotonic() - t0, 1),
               "result": json.loads(lines[-1]) if lines else None,
               "report": json.loads(lines[-2])["report"] if len(lines) > 1 else None}
        with open(args.out, "a") as fh:
            fh.write(json.dumps(row) + "\n")


def summary(path):
    rows = [json.loads(l) for l in open(path)]
    metrics = {}
    for r in rows:
        for k, v in r["result"]["metrics"].items():
            metrics.setdefault(k, []).append(v["value"])
    out = {"runs": len(rows), "seeds": [r["seed"] for r in rows],
           "exit_codes": [r["rc"] for r in rows],
           "run_wall_s": [r["wall"] for r in rows], "metrics": {}}
    for k, vals in metrics.items():
        q = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        out["metrics"][k] = {"median": med, "spread": (q[2] - q[0]) / med,
                             "values": vals}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="first-last, inclusive")
    r.add_argument("--seconds", type=int, default=10)
    r.add_argument("--out", required=True)
    s = sub.add_parser("summarize")
    s.add_argument("files", nargs="+")
    args = ap.parse_args()
    if args.cmd == "run":
        run(args)
        return
    for f in args.files:
        res = summary(f)
        print(f"{f}: {res['runs']} runs, exit codes {set(res['exit_codes'])}, "
              f"run wall {min(res['run_wall_s'])}-{max(res['run_wall_s'])} s")
        for k, m in res["metrics"].items():
            print(f"  {k:16s} median {m['median']:10.4f}  spread {m['spread']:.3f}")


if __name__ == "__main__":
    main()
