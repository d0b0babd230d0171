#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median and spread (inter-quartile distance / median, as
statistics.quantiles(values, n=4) gives the quartiles).

    python3 perfbench/spread.py --workload bulk_dedup --seeds 1-10 [--out FILE]

Run from the root of a source checkout. Every run's result line and record
are kept in the output JSON (default .bench_build/spread-<workload>.json).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    out = args.out or os.path.join(".bench_build", f"spread-{args.workload}.json")
    runs = []
    for seed in seeds(args.seeds):
        t = time.time()
        proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", args.workload,
                               "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                               "--trace", "0"],
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
        wall = time.time() - t
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode} after {wall:.0f} s", flush=True)
            runs.append({"seed": seed, "exit": proc.returncode, "wall_s": wall})
            continue
        result, record = json.loads(lines[-1]), json.loads(lines[-2])["record"]
        runs.append({"seed": seed, "exit": 0, "wall_s": wall, "result": result, "record": record})
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                        if k in {m["name"] for m in bench["end_to_end"]})
        print(f"seed {seed}: {wall:.0f} s correct={result['correct']} {vals}", flush=True)
    summary = {}
    ok = [r for r in runs if r.get("exit") == 0]
    for m in bench["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in ok]
        if len(vals) >= 2:
            q1, med, q3 = statistics.quantiles(vals, n=4)
            summary[m["name"]] = {"median": statistics.median(vals), "q1": q1, "q3": q3,
                                  "spread": (q3 - q1) / statistics.median(vals),
                                  "bound": m["bound"], "n": len(vals)}
            s = summary[m["name"]]
            print(f"{m['name']}: median {s['median']:.4g} spread {s['spread']:.3f} "
                  f"(bound {m['bound']}, target < {m['bound'] / 3:.3f})")
    with open(out, "w") as fh:
        json.dump({"workload": args.workload, "runs": runs, "summary": summary}, fh, indent=1)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
