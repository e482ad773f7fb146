#!/usr/bin/env python3
"""Benchmark of the e-commerce pipeline and its query surface.

    python3 perfbench/run.py --workload daily_trickle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the program from source on first use
(perfbench/build.py), generates the workload's inputs from --seed, runs it
in one JVM at local[<cores>] for --seconds, checks every output, and prints
one JSON line last: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones from a traced run.

Workloads (see BENCHMARK.json for why each exists): daily_trickle,
query_mix. --scale exists for the smoke test; the default is what the
benchmark measures.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("daily_trickle", "query_mix")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_jvm(classes, args, out):
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(out, "tmp"),
           # deep call sites so a job's stack reaches the program entry point
           "-Dspark.callstack.depth=200",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{build.classpath()}", "perfbench.Main",
            "--out", out] + args
    os.makedirs(os.path.join(out, "tmp"))
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    result = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result):
        tail = open(log_path, errors="replace").read()[-3000:]
        fail(f"benchmark JVM exited with {code}:\n{tail}")
    with open(result) as f:
        return json.load(f)


def oracle_check(data_dir, dump_dir):
    """Compare each query's dumped result with its DuckDB oracle through the
    repository's compare script; returns the names that differ."""
    script = os.path.join("tools", "check_oracle.py")
    if not os.path.exists(script):
        fail(f"{script} not found: run from the root of a checkout")
    r = subprocess.run([sys.executable, script, data_dir, dump_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=150)
    bad = re.findall(r"^FAIL (\S+):", r.stdout, re.M)
    ok = re.findall(r"^OK\s+(\S+):", r.stdout, re.M)
    if r.returncode != 0 and not bad:
        fail("oracle compare failed:\n" + r.stdout[-3000:])
    return ok, bad, r.stdout


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (inputs, stores, trace)")
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    out = os.path.join(build.BUILD_DIR, "runs",
                       f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        r = run_jvm(classes, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scale", str(a.scale)], out)
        for line in r.get("log", []):
            print(f"perfbench: {line}", file=sys.stderr)
        correct, failed = r["correct"], r["failed"]
        if a.workload == "query_mix":
            dump = os.path.join(out, "dump")
            ok, bad, text = oracle_check(os.path.join(out, "setup0"), dump)
            with open(os.path.join(dump, "oracle_sql.json")) as f:
                expected = json.load(f)
            if bad or len(ok) != len(expected):
                print(text, file=sys.stderr)
                correct = False
            failed += int(r["info"]["passes"]) * len(bad)
        info = {k: round(v, 4) for k, v in r["info"].items()}
        print(json.dumps({"workload": a.workload, "seed": a.seed,
                          "info": info}), file=sys.stderr)
        if a.keep:
            print(f"perfbench: run directory kept at {out}", file=sys.stderr)
        print(json.dumps({
            "correct": bool(correct and failed == 0),
            "attempted": int(r["attempted"]),
            "failed": int(failed),
            "metrics": r["metrics"],
        }))
    finally:
        if not a.keep:
            shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
