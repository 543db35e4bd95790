#!/usr/bin/env python3
"""Alternating parent/change pairs of the repo benchmark.

Usage:
  python3 tools/ab_pairs.py <parent-checkout> <change-checkout> \\
      --workloads backlog_mix,syslog_paced,batch_curation --seeds 301-308 \\
      [--seconds 8] --out AB_<name>.jsonl
  python3 tools/ab_pairs.py --summarize AB_<name>.jsonl [--workloads ...]

For each seed and each workload it runs
`python3 perfbench/run.py --workload <w> --seed <seed> --seconds <s> --trace 0`
once in each checkout, one after the other, swapping which side goes first
from one pair to the next. Every run appends one line to --out:
  {"side", "seed", "wl", "trace", "start", "end", "res"}
with `res` the run's final JSON line (null when it printed none) and, when
the run exited non-zero, its "exit" code. At the end it prints, per
workload and end-to-end metric, both medians, how many pairs the change
won, each side's min and max and the median of the per-seed ratios
change/parent (medians of separate sides can hide a loss that the
pairs show), then the median run wall time (end - start) of each side.
`--summarize` runs nothing: it reprints that summary for a committed
JSONL file (every workload in it unless --workloads is given), so each
figure quoted from such a file can be recomputed from it.

perfbench/run.py compiles a checkout on its first run; run
`python3 perfbench/build.py` in each checkout beforehand so no run's wall
time includes the compile.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(checkout, wl, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    start = time.time()
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    end = time.time()
    res = None
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("{"):
            try:
                res = json.loads(line)
            except json.JSONDecodeError:
                pass
            break
    return start, end, proc.returncode, res


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def better(spec):
    return {m["name"]: m["better"] for m in spec["end_to_end"]}


def summary(lines, spec):
    dirs = better(spec)
    for wl in sorted({l["wl"] for l in lines}):
        runs = [l for l in lines if l["wl"] == wl]
        bad = [l for l in runs if l.get("exit") or not (l["res"] and l["res"]["correct"] and l["res"]["failed"] == 0)]
        print(f"{wl}: {len(runs)} runs, {len(bad)} failed or incorrect")
        ok = [l for l in runs if l not in bad]
        by_seed = {}
        for l in ok:
            by_seed.setdefault(l["seed"], {})[l["side"]] = l["res"]["metrics"]
        pairs = [v for v in by_seed.values() if "parent" in v and "change" in v]
        for name, direction in dirs.items():
            p = [v["parent"][name]["value"] for v in pairs]
            c = [v["change"][name]["value"] for v in pairs]
            if not pairs:
                continue
            won = sum((cv > pv) if direction == "higher" else (cv < pv) for pv, cv in zip(p, c))
            q = statistics.quantiles(p, n=4) if len(p) > 1 else [p[0], p[0], p[0]]
            pm, cm = statistics.median(p), statistics.median(c)
            print(f"  {name:<20} parent {pm:>12.2f} (q1-q3 {q[0]:.2f}-{q[2]:.2f})  change {cm:>12.2f}"
                  f"  ({100 * (cm / pm - 1):+.1f} %, {direction} is better)  change won {won} of {len(pairs)} pairs")
            ratio = statistics.median(cv / pv for pv, cv in zip(p, c))
            print(f"  {'':<20} parent min-max {min(p):.2f}-{max(p):.2f}  change min-max {min(c):.2f}-{max(c):.2f}"
                  f"  median pair change/parent {100 * (ratio - 1):+.1f} %")
        for side in ("parent", "change"):
            walls = [l["end"] - l["start"] for l in runs if l["side"] == side]
            if walls:
                print(f"  run wall time {side:<6} median {statistics.median(walls):.1f} s over {len(walls)} runs")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workloads", help="comma-separated workload names")
    ap.add_argument("--seeds", help="e.g. 301-308 or 1,4,9")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--out", help="JSONL file to append one line per run to")
    ap.add_argument("--summarize", metavar="JSONL", help="only reprint the summary of this file")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.summarize:
        if a.parent or a.change or a.seeds or a.out:
            ap.error("--summarize takes no checkouts, --seeds or --out")
        lines = load(a.summarize)
        wls = a.workloads.split(",") if a.workloads else sorted({l["wl"] for l in lines})
        summary([l for l in lines if l["wl"] in wls and l.get("trace", 0) == 0], spec)
        return
    if not (a.parent and a.change and a.workloads and a.seeds and a.out):
        ap.error("a run needs both checkouts, --workloads, --seeds and --out")
    wls = a.workloads.split(",")
    sides = [("parent", os.path.abspath(a.parent)), ("change", os.path.abspath(a.change))]
    k = 0
    for seed in seeds(a.seeds):
        for wl in wls:
            for side, checkout in (sides if k % 2 == 0 else sides[::-1]):
                start, end, rc, res = run(checkout, wl, seed, a.seconds)
                line = {"side": side, "seed": seed, "wl": wl, "trace": 0,
                        "start": round(start, 2), "end": round(end, 2), "res": res}
                if rc:
                    line["exit"] = rc
                with open(a.out, "a") as f:
                    f.write(json.dumps(line, separators=(",", ":")) + "\n")
                verdict = "exit %d" % rc if rc else ("ok" if res and res["correct"] else "INCORRECT")
                print(f"[ab] {side:<6} seed {seed} {wl}: {end - start:.1f} s, {verdict}", flush=True)
            k += 1
    summary([l for l in load(a.out) if l["wl"] in wls and l.get("trace", 0) == 0], spec)


if __name__ == "__main__":
    main()
