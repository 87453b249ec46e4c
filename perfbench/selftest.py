#!/usr/bin/env python3
"""Self-test of the benchmark: two traced runs of the same code and seed
must report identical structural counts (jobs, stages, tasks, shuffle
and spill bytes, scans, data-shape counts) and identical output quality
and model hash. Timings are left out; they never repeat exactly.

    python3 perfbench/selftest.py [--seed N] [workload ...]

Exits 0 when every workload repeats, 1 otherwise.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TIMING_SUFFIXES = (".s", ".gc_s", ".sched_wait_s", ".busy_frac",
                   ".overhead_s")


def traced_run(workload, seed):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        stdout=subprocess.PIPE, text=True, check=True)
    detail, result = [json.loads(l) for l in proc.stdout.splitlines()[-2:]]
    counts = {k: m["value"] for k, m in result["metrics"].items()
              if not k.endswith(TIMING_SUFFIXES)}
    counts.update({f"quality.{k}": v for k, v in detail["quality"].items()})
    counts["model_hash"] = detail["facts"].get("model_hash")
    counts["correct"] = result["correct"]
    return counts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("workloads", nargs="*",
                    default=["q50_trained", "query_mix"])
    args = ap.parse_args()
    ok = True
    for w in args.workloads:
        a, b = traced_run(w, args.seed), traced_run(w, args.seed)
        diffs = {k: (a.get(k), b.get(k)) for k in sorted(set(a) | set(b))
                 if a.get(k) != b.get(k)}
        print(f"{w}: {len(a)} structural values, "
              f"{'identical' if not diffs else f'{len(diffs)} differ'}")
        for k, (x, y) in diffs.items():
            print(f"  {k}: {x} vs {y}")
        ok = ok and not diffs and a["correct"]
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
