#!/usr/bin/env python3
"""Self-test of the benchmark command's contract. Run from the checkout root:

  python3 perfbench/selftest.py [workload ...]

1. Pipes `run.py` through `tail -c 2000`, as a driver that keeps only the
   tail of stdout would, and checks that the last line parses as the result
   JSON with every end-to-end metric, at column 0, under 1 KB.
2. Checks that a corrupted expected hash and a corrupted sink output each
   make the run fail loud: exit code 3, `"correct": false`, failed > 0.
3. Checks that, in a directory holding only BENCHMARK.json and perfbench/,
   the command exits non-zero without printing a result.
Scratch copies go under the build directory and are removed afterwards.
"""
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
SECONDS = "8"


def last_json(stdout):
    lines = stdout.rstrip("\n").split("\n")
    return lines[-1], json.loads(lines[-1])


def check(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg, flush=True)
    return cond


def run(cmd, cwd, env=None):
    return subprocess.run(cmd, cwd=cwd, env=env, shell=isinstance(cmd, str),
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def copy_tree(dst, with_sources):
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dst)
    shutil.copytree(HERE, os.path.join(dst, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    if with_sources:
        shutil.copytree(os.path.join(ROOT, "src", "main"), os.path.join(dst, "src", "main"))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    e2e = [m["name"] for m in spec["end_to_end"]]
    ok = True
    for w in workloads:
        r = run(f"python3 perfbench/run.py --workload {w} --seed 1 --seconds {SECONDS} --trace 0 | tail -c 2000",
                ROOT)
        try:
            line, res = last_json(r.stdout)
        except (ValueError, IndexError):
            ok &= check(False, f"{w}: last line of the 2000-byte tail is not JSON: {r.stdout[-300:]!r}")
            continue
        ok &= check(len(line.encode()) < 1024 and not line.startswith(" "), f"{w}: result line is {len(line)} bytes at column 0")
        ok &= check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{w}: result keys {sorted(res)}")
        ok &= check(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
                    f"{w}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        ok &= check(sorted(res["metrics"]) == sorted(e2e) and all(v["value"] > 0 for v in res["metrics"].values()),
                    f"{w}: all {len(e2e)} end-to-end metrics present and non-zero")

    scratch = os.path.join(build.build_dir(), "selftest")
    env = dict(os.environ, CARGO_TARGET_DIR=build.build_dir())
    copy_tree(scratch, with_sources=True)
    try:
        exp = os.path.join(scratch, "perfbench", "expected", "batch_curation.json")
        with open(exp) as f:
            body = f.read()
        with open(exp, "w") as f:
            f.write(body.replace('"hash": "', '"hash": "1', 1))
        cases = [("corrupted expected hash", ["--workload", "batch_curation"]),
                 ("corrupted sink output", ["--workload", "syslog_paced", "--corrupt-sink"])]
        for name, extra in cases:
            r = run(["python3", "perfbench/run.py", "--seed", "1", "--seconds", SECONDS, "--trace", "0"] + extra,
                    scratch, env)
            try:
                _, res = last_json(r.stdout)
                loud = r.returncode == 3 and res["correct"] is False and res["failed"] > 0
            except (ValueError, IndexError):
                loud = False
            ok &= check(loud and "MISMATCH" in r.stdout, f"{name}: exit {r.returncode}, gate fails loud")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    copy_tree(scratch, with_sources=False)
    try:
        r = run(["python3", "perfbench/run.py", "--workload", workloads[0], "--seed", "1", "--seconds", SECONDS,
                 "--trace", "0"], scratch, env)
        ok &= check(r.returncode != 0 and '"metrics"' not in r.stdout,
                    f"bare directory: exit {r.returncode}, no result printed")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print("selftest " + ("PASSED" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
