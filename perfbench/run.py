#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload lookup_prepared --seed 1 --seconds 10 --trace 0

Builds the benchmark (the repository's main sources plus perfbench/src) with
sbt when its sources changed, generates the seeded inputs, runs one workload
in one JVM, checks every output, writes the run detail to
perfbench/out/<workload>_trace<0|1>.json (and the spans of a traced run to
..._spans.jsonl), prints every metric of the run on a `metrics:` line, and
prints the one-line verdict last:

    {"correct": true, "attempted": 812, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. The verdict keeps to the metrics BENCHMARK.json declares for
the workload. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lookup_prepared", "lookup_adhoc", "lookup_rw", "batch_pipeline")
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 600
COMPARE_TIMEOUT_S = 120

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        die(f"{cmd[0]} timed out after {timeout} s", 3)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the stamped classpath matches the sources."""
    stamp = os.path.join(HERE, "target", "perfbench-classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1], 0.0
    env = dict(os.environ, COURSIER_MODE="offline")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.repository.config={repo_cfg}"] if os.path.exists(repo_cfg) else [])))
    t0 = time.time()
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        die("build failed", 4)
    cp = [l for l in out.splitlines() if "target/scala" in l and not l.startswith("[")]
    if not cp:
        die("build printed no classpath", 4)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp[-1].strip() + "\n")
    return cp[-1].strip(), time.time() - t0


def heap():
    """A quarter of physical memory, between 2 and 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        kb = 8 << 20
    return f"{max(2048, min(8192, kb // 4096))}m"


def oracle_compare(data_dir, results_dir):
    """Runs the repository's DuckDB twin compare, tools/compare.py, over the
    warm-pass results. Returns {query: reason} for every mismatch."""
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        queries = json.load(f)
    code, out, err = run_group(
        [sys.executable, os.path.join(ROOT, "tools", "compare.py"), data_dir, results_dir],
        COMPARE_TIMEOUT_S, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    bad = {q: "no result written" for q in queries if not os.path.isdir(os.path.join(results_dir, q))}
    for line in out.splitlines():
        m = re.match(r"\s*FAIL (\S+): (.*)", line)
        if m:
            bad[m.group(1)] = m.group(2)
    if code != 0:  # the compare died part way: no query it did not reach passed
        bad.update({q: f"compare exited {code}: {err.strip()[-300:]}" for q in queries if q not in bad})
    return bad


def declared_metrics(workload, trace):
    """Metric names BENCHMARK.json requires of this run, or None."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    if workload not in [w["name"] for w in spec["workloads"]]:
        return None
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def amortization(detail_dir, workload, run):
    """The paper's ratio: this untraced lookup run against the latest
    untraced run of the other lookup loop."""
    other = "lookup_adhoc" if workload == "lookup_prepared" else "lookup_prepared"
    try:
        with open(os.path.join(detail_dir, f"{other}_trace0.json")) as f:
            runs = {workload: run, other: json.load(f)}
        p = runs["lookup_prepared"]["metrics"]
        a = runs["lookup_adhoc"]["metrics"]
        ratios = {f"{s}_adhoc_over_prepared_p50": a[f"{s}_p50_ms"]["value"] / p[f"{s}_p50_ms"]["value"]
                  for s in ("cached", "keyed", "parquet")}
        return ratios | {"seeds": {w: r["harness"]["seed"] for w, r in runs.items()}}
    except (OSError, KeyError, ZeroDivisionError, TypeError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the repository's sources (src/main/scala/graft) are not beside perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")

    cp, build_s = build()
    sys.path.insert(0, HERE)
    import gen

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    try:
        data = os.path.join(work, "data")
        t0 = time.time()
        if a.workload == "batch_pipeline":
            gen.gen_batch(a.seed, data)
        else:
            gen.gen_lookup(a.seed, data)
        gen_s = time.time() - t0

        out = os.path.join(out_dir, f"{a.workload}_trace{a.trace}.json")
        result_file = os.path.join(work, "result.json")
        cmd = (["java", f"-Xms{heap()}", f"-Xmx{heap()}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data, "--work", work,
                "--out", result_file])
        t0 = time.time()
        code, _, err = run_group(cmd, JVM_TIMEOUT_S, cwd=work, stdout=subprocess.DEVNULL,
                                 stderr=subprocess.PIPE, text=True)
        jvm_s = time.time() - t0
        if code != 0 or not os.path.exists(result_file):
            sys.stderr.write(err[-6000:])
            die(f"benchmark JVM exited with {code}", 5)
        with open(result_file) as f:
            r = json.load(f)
        spans = r["detail"].get("spans_file")
        if spans and os.path.exists(spans):
            dst = out[:-len(".json")] + "_spans.jsonl"
            shutil.move(spans, dst)
            r["detail"]["spans_file"] = os.path.relpath(dst, ROOT)

        failed = r["failed"]
        if a.workload == "batch_pipeline":
            bad = oracle_compare(data, os.path.join(work, "results"))
            r["detail"]["oracle_mismatches"] = bad
            # a query whose warm pass disagrees with its DuckDB twin makes
            # every timed run of it wrong
            wrong = sum(1 for q in bad) * max(1, r["detail"].get("passes", 1))
            failed += wrong
            r["detail"]["error_rate"] = failed / max(1, r["attempted"])
        r["harness"] = {"seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                        "build_s": build_s, "inputs_s": gen_s, "jvm_s": jvm_s, "heap": heap()}
        if a.workload in ("lookup_prepared", "lookup_adhoc") and not a.trace:
            r["detail"]["amortization"] = amortization(out_dir, a.workload, r)
        with open(out, "w") as f:
            json.dump(r, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = r["metrics"]
    # every metric the run made, the ungated ones too, by name and unit;
    # the verdict line below keeps to the ones BENCHMARK.json declares
    shown = dict(metrics, error_rate={"value": r["detail"]["error_rate"], "unit": "ratio"})
    print("metrics: " + ", ".join(f"{n} {'null' if m['value'] is None else format(m['value'], '.6g')} {m['unit']}"
                                  for n, m in shown.items()))
    want = declared_metrics(a.workload, a.trace)
    if want is not None:
        missing = [m for m in want if not (isinstance(metrics.get(m, {}).get("value"), (int, float))
                                           and math.isfinite(metrics[m]["value"]))]
        if missing:
            die(f"metrics missing or not finite: {missing}", 6)
        metrics = {m: metrics[m] for m in want}
    print(json.dumps({"correct": failed == 0, "attempted": r["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
