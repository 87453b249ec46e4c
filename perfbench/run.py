#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Workloads (see BENCHMARK.json and README.md for why each is here):
  q50_trained  the flagship q50 pipeline, trained-model path, on
               customer-derived person entries.
  query_mix    one graft.Bench headline query per module group.

The run builds the library and harness from source (build.py), makes
the inputs from the seed (gen.py), and starts one JVM with
`local[nproc]` and a heap sized from MemTotal. The JVM sets up, warms
up, then runs a closed loop of passes for `--seconds`, at least two;
every pass's outputs are checked. This script adds the
checks that need no trust in the program (checks.py), prints a detail
line, and prints the result as the last line of standard output:
with `--trace 0` every end-to-end metric, with `--trace 1` every
per-layer metric.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

# Per workload: table scale (1.0 = sf0.1 row counts) and the tables read.
WORKLOADS = {
    "q50_trained": (0.6, ["customer"]),
    "query_mix": (0.1, ["customer", "orders", "lineitem", "documents",
                        "embeddings"]),
}
TIMEOUT_S = 170
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Half of MemTotal in whole GiB, clamped to 2..8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def metrics_e2e(res, quality):
    """The gated metrics. false_merge (1 - accuracy) and false_split can
    be 0, and peak RSS follows the collector's heap sizing, so those
    three stay in the detail line."""
    run_s = res["run_s"]
    return {
        "run_s": (run_s, "s"),
        "setup_s": (res["setup_s"], "s"),
        "records_per_s": (res["records"] / run_s, "1/s"),
        "accuracy": (quality["accuracy"], "ratio"),
        "gt_merge_frac": (quality["gt_merge_frac"], "ratio"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    os.chdir(ROOT)

    # The first run in a checkout also builds; the time limit counts
    # from after the build.
    build.build()
    started = time.monotonic()
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    scale, tables = WORKLOADS[args.workload]
    data = os.path.join(base, "data", f"{args.workload}-{scale}-{args.seed}")
    if not os.path.isdir(data):
        shutil.rmtree(data + ".tmp", ignore_errors=True)
        gen.write_tables(data + ".tmp", args.seed, scale, tables)
        os.rename(data + ".tmp", data)
    work = os.path.join(base, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")

    cmd = (["java"] +
           [a for p in JDK17_OPENS for a in ("--add-opens",
                                             f"java.base/{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData",
            # The parallel collector: under G1 the passes after the first
            # took 12-19 s and were still falling at the fourth; under
            # this one the second is within a quarter of the third.
            "-XX:+UseParallelGC",
            # JIT-compile after a fifth of the usual invocations: every
            # pass brings new generated classes, and with the default
            # thresholds the second pass still ran 15-29 % above the
            # third on the mix; with this, 7 % on one seed.
            "-XX:CompileThresholdScaling=0.2",
            f"-Xms{heap()}", f"-Xmx{heap()}",
            "-cp", build.classpath(), "perfbench.Harness",
            args.workload, data, work, str(args.seconds), str(args.trace),
            str(cores()), result_path])
    log_path = os.path.join(work, "jvm.log")
    # A terminated benchmark takes its JVM down with it.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, TIMEOUT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: JVM timed out, log in {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(result_path):
        sys.stderr.write(open(log_path).read()[-3000:])
        sys.exit(f"perfbench: JVM exited {proc.returncode}")
    res = json.load(open(result_path))

    out = os.path.join(work, "out")
    passes = res["passes"]
    failed = sum(1 for p in passes if p["problems"])
    problems = {}
    if args.workload == "query_mix":
        problems = checks.oracle_mismatches(data, out)
        quality = checks.neardup_quality(out)
        # The oracle compares the first (verify) pass's outputs.
        if problems and not passes[0]["problems"]:
            failed += 1
    else:
        quality = checks.linkage_quality(out)

    detail = {
        "detail": "perfbench", "workload": args.workload, "seed": args.seed,
        "cores": cores(), "heap": heap(), "records": res["records"],
        "settled": res["settled"], "session": res["session"],
        "session_s": res["session_s"], "load_s": res["load_s"],
        "peak_rss_mb": res["peak_rss_mb"], "gc_s": res["gc_s"],
        "passes": passes, "facts": res["facts"],
        "quality": quality, "oracle_problems": problems,
    }
    print(json.dumps(detail))
    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in sorted(res["layers"].items())}
    else:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in metrics_e2e(res, quality).items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(passes),
                      "failed": failed, "metrics": metrics}))


def unit_of(name):
    suffix = name.rsplit(".", 1)[-1]
    return {"s": "s", "gc_s": "s", "sched_wait_s": "s", "overhead_s": "s",
            "shuffle_mb": "MB", "spill_mb": "MB", "busy_frac": "ratio",
            "unique_ratio": "ratio", "pair_yield": "ratio", "recall": "ratio",
            "kernel": "code"}.get(suffix, "count")


if __name__ == "__main__":
    main()
