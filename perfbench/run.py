#!/usr/bin/env python3
"""graft benchmark: streaming ETL through the YAML node tree, plus a
batch-curation pass. See perfbench/README.md.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name>[,<name>...|all] --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), runs each workload in
a fresh, pinned JVM, prints every metric with its unit and the correctness
verdict, and ends stdout with one compact JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With several workloads the JSON line of each follows its own report and the
last one closes the output.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
RUN_TIMEOUT_S = 170
HEAP = "3g"
YOUNG = "384m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as f:
        return json.load(f)


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_one(workload, seed, seconds, trace, classes, bench, flags):
    out_dir = build.build_dir()
    tmp = os.path.join(out_dir, f"run-{os.getpid()}-{time.time_ns()}")
    trace_dir = os.path.join(out_dir, "trace")
    os.makedirs(tmp)
    os.makedirs(trace_dir, exist_ok=True)
    ncpu = cpu_count()
    # Streaming: Spark task slots plus the generator thread stay within the
    # core count. The batch pass has no generator.
    cores = ncpu if workload == "batch_curation" else max(1, ncpu - 1)
    log_path = os.path.join(out_dir, f"{workload}-seed{seed}-trace{trace}.log")
    # A fixed young generation: with G1 sizing it inside the 3 GiB heap, a
    # measured window saw only 2-3 collections, and micro-batch times drifted.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores), "--tmp", tmp, "--trace-dir", trace_dir,
            "--data", os.path.join(HERE, "data"),
            "--expected", os.path.join(HERE, "expected", "batch_curation.json"),
            "--spawn-ns", str(time.time_ns())]
    cmd += flags
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    result = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
            timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
            timer.start()
            try:
                for line in proc.stdout:
                    line = line.rstrip("\n")
                    if line.startswith("GRAFTBENCH_RESULT "):
                        result = json.loads(line[len("GRAFTBENCH_RESULT "):])
                    elif line:
                        print(line, flush=True)
                proc.wait()
            finally:
                timer.cancel()
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{workload}: JVM exited with code {proc.returncode} and no result (log: {log_path})")

    names = bench["per_layer"] if trace else bench["end_to_end"]
    metrics = {}
    for m in names:
        v = result["metrics"].get(m["name"])
        if v is None:
            fail(f"{workload}: metric {m['name']} missing from the run's result")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return result, metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-expected", action="store_true",
                    help="regenerate perfbench/expected/batch_curation.json (maintenance only)")
    ap.add_argument("--corrupt-sink", action="store_true",
                    help="delete one sink file before the streaming gate (self-test only)")
    a = ap.parse_args()
    bench = spec()
    known = [w["name"] for w in bench["workloads"]]
    wanted = known if a.workload == "all" else a.workload.split(",")
    for w in wanted:
        if w not in known:
            fail(f"unknown workload {w!r}; known: {', '.join(known)}")
    try:
        classes = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    all_ok = True
    for w in wanted:
        flags = ["--write-expected"] * a.write_expected + ["--corrupt-sink"] * a.corrupt_sink
        result, metrics = run_one(w, a.seed, a.seconds, a.trace, classes, bench, flags)
        attempted, failed = int(result["attempted"]), int(result["failed"])
        print(f"[{w}] --- metrics (seed {a.seed}, {a.seconds} s, trace {a.trace}) ---")
        for name, m in metrics.items():
            print(f"[{w}] {name:<44} {m['value']:>16.6g} {m['unit']}")
        print(f"[{w}] {'failed_frac':<44} {failed / max(1, attempted):>16.6g} ({failed} of {attempted})")
        verdict = "PASS" if result["correct"] and failed == 0 else "FAIL"
        print(f"[{w}] correctness gate: {verdict}", flush=True)
        for n in result.get("notes", []):
            print(f"[{w}] MISMATCH {n}", file=sys.stderr)
        all_ok &= verdict == "PASS"
        print(json.dumps({"correct": verdict == "PASS", "attempted": max(1, attempted), "failed": failed,
                          "metrics": metrics}, separators=(",", ":")), flush=True)
    if not all_ok:
        print("[perfbench] CORRECTNESS GATE FAILED", file=sys.stderr, flush=True)
        sys.exit(3)


if __name__ == "__main__":
    main()
