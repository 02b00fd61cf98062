#!/usr/bin/env python3
"""Run a workload over several seeds and report each end-to-end metric's
median and spread (inter-quartile range over median), the way the
benchmark's bounds are checked.

Usage (from the root of a graft checkout):

    python3 perfbench/spread.py --workload qpu_point --runs 10 [--first-seed 100]

Results are appended to perfbench/.work/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    out = open(os.path.join(HERE, ".work", f"spread-{a.workload}.jsonl"), "a")
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           capture_output=True, text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            continue
        r = json.loads(p.stdout.strip().splitlines()[-1])
        meta = [json.loads(l[5:]) for l in p.stderr.splitlines() if l.startswith("META ")]
        fails = [l for l in p.stderr.splitlines() if "FAILURE" in l]
        out.write(json.dumps({"seed": seed, "wall_s": wall, **r, "meta": meta[:1],
                              "failures": fails[:5]}) + "\n")
        out.flush()
        m = meta[0] if meta else {}
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']}/{r['attempted']} "
              f"wall={wall:.1f}s calib_ms={m.get('calib_ms')} samples: ops={m.get('ops')} "
              f"passes={m.get('passes')} notify={m.get('notify_samples')}", flush=True)
        for f in fails[:3]:
            print("  " + f[:300], flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k in sorted(values):
        xs = values[k]
        med = statistics.median(xs)
        if len(xs) >= 2:
            q = statistics.quantiles(xs, n=4)
            spread = (q[2] - q[0]) / med if med else float("nan")
        else:
            spread = float("nan")
        b = bounds.get(k)
        flag = "" if b is None or spread < b / 3 else "  <-- above a third of its bound"
        print(f"{k:22s} median {med:12.4f}  spread {spread:7.4f}  bound {b}{flag}")


if __name__ == "__main__":
    main()
