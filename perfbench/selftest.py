#!/usr/bin/env python3
"""Self-test of the benchmark: a short run of each workload at scale
factor 0.001 must print every metric named in BENCHMARK.json with its
unit and report no failed operation, in both the untraced and the
traced mode; and a run with a deliberately wrong reference answer must
count that answer as a failure.

Usage (from the root of a graft checkout):

    python3 perfbench/selftest.py [--seconds 4] [--workload NAME ...]

Exits 0 when every check holds, 1 otherwise.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seconds, trace, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", str(seconds), "--trace", str(trace), "--sf", "0.001", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        return None, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=int, default=4)
    ap.add_argument("--workload", nargs="*")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    problems = []
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r, err = run(w, a.seconds, trace)
            label = f"{w} --trace {trace}"
            if r is None:
                problems.append(f"{label}: no result\n{err}")
                continue
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want:
                problems.append(f"{label}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]]}")
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                problems.append(f"{label}: failed {r['failed']} of {r['attempted']}\n"
                                + "\n".join(l for l in err.splitlines() if "FAILURE" in l))
            nulls = [k for k, v in r["metrics"].items() if v["value"] is None]
            if trace == 0 and nulls:
                problems.append(f"{label}: metrics without a value: {nulls}")
            print(f"{label}: {r['attempted']} attempted, {r['failed']} failed", flush=True)
        r, err = run(w, a.seconds, 0, ["--corrupt-expected"])
        if r is None or r["failed"] < 1 or r["correct"]:
            problems.append(f"{w} --corrupt-expected: the wrong answer was not counted as a failure")
        else:
            print(f"{w} --corrupt-expected: {r['failed']} failed, as expected", flush=True)
    for p in problems:
        print("PROBLEM " + p)
    print("selftest " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
