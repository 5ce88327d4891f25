#!/usr/bin/env python3
"""Benchmark self-check: a short untraced and a short traced run of every
workload, then three assertions.

1. Every metric a run prints is present, finite and non-negative.
2. `codegen.compiles_per_op` is 0 on lookup_prepared (the point of
   `BoundParam`) and above 0 on lookup_adhoc.
3. On the lookup workloads the traced layer parts (the medians of bind,
   rebind, prejob, job and postjob plus the means of the planning phases,
   which Spark stamps in whole ms) sum to within 10% of the median traced op
   wall, per shape.

    python3 perfbench/selfcheck.py [--seconds 8] [--workloads lookup_prepared ...]

Exits 0 when every assertion holds; prints each failure otherwise.
"""
import argparse
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lookup_prepared", "lookup_adhoc", "lookup_rw", "batch_pipeline")


def run(workload, trace, seconds, seed):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    if p.returncode != 0:
        return None, f"exit {p.returncode}: {p.stderr[-2000:]}"
    line = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, "out", f"{workload}_trace{trace}.json")) as f:
        return (line, json.load(f)), None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--workloads", nargs="*", default=list(WORKLOADS))
    a = ap.parse_args()

    problems = []
    for w in a.workloads:
        for trace in (0, 1):
            res, err = run(w, trace, a.seconds, a.seed)
            tag = f"{w} trace={trace}"
            if err:
                problems.append(f"{tag}: {err}")
                continue
            line, detail = res
            print(f"{tag}: correct={line['correct']} attempted={line['attempted']} "
                  f"failed={line['failed']} metrics={len(line['metrics'])}")
            for name, m in line["metrics"].items():
                v = m.get("value")
                if not isinstance(v, (int, float)) or not math.isfinite(v) or v < 0 or not m.get("unit"):
                    problems.append(f"{tag}: metric {name} = {m}")
            if not trace:
                continue
            compiles = line["metrics"].get("codegen.compiles_per_op", {}).get("value")
            if w == "lookup_prepared" and compiles != 0:
                problems.append(f"{tag}: codegen.compiles_per_op = {compiles}, expected 0")
            if w == "lookup_adhoc" and not (isinstance(compiles, (int, float)) and compiles > 0):
                problems.append(f"{tag}: codegen.compiles_per_op = {compiles}, expected > 0")
            for shape, c in detail["detail"].get("coverage", {}).items():
                cov = c.get("coverage")
                print(f"  {shape}: parts {c['parts_sum_ms']:.2f} ms of op p50 {c['op_p50_ms']:.2f} ms, "
                      f"tracing overhead {c['tracing_overhead_ms']:.2f} ms")
                if not isinstance(cov, (int, float)) or abs(cov - 1) > 0.10:
                    problems.append(f"{tag}: {shape} layer parts cover {cov} of the op wall")
    for p in problems:
        print("FAIL", p)
    print("self-check", "failed" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
