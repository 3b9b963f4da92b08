#!/usr/bin/env python3
"""Steadiness and tracing-overhead tool for the perfbench benchmark.

    python3 perfbench/steady.py [--workloads all|w1,w2] [--seeds 1-10]
                                [--traced]

Runs `perfbench/run.py` once per (workload, seed), untraced, and prints
for every end-to-end metric the median, the quartiles
(`statistics.quantiles(values, n=4)`), the quartile spread as a share of
the median next to the metric's bound, and the max/min spread. With
`--traced` it also makes one traced run per seed and prints, per metric,
how far the traced runs' median moved from the untraced one: the tracing
overhead. Run from the repository root; exits non-zero if any run failed
a check.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import json
import re
import statistics
import subprocess
import time

SPEC = json.load(open("BENCHMARK.json"))


def seeds(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run(workload, seed, trace):
    """One run; returns (exit code, end-to-end values). A traced run prints
    its end-to-end figures on `# name = value` lines."""
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
         "--trace", str(trace)],
        capture_output=True, text=True)
    print(f"  {workload} seed {seed} trace {trace}: exit {p.returncode}, "
          f"{time.time() - t0:.1f} s", flush=True)
    names = {m["name"] for m in SPEC["end_to_end"]}
    vals = {}
    for line in p.stdout.splitlines():
        m = re.match(r"# (\S+) = (\S+)", line)
        if m and m.group(1) in names:
            vals[m.group(1)] = float(m.group(2))
    if p.returncode != 0:
        print(p.stderr[-1500:], file=sys.stderr)
    return p.returncode, vals


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="all")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    wls = ([w["name"] for w in SPEC["workloads"]] if a.workloads == "all"
           else a.workloads.split(","))
    bad = 0
    for w in wls:
        plain, traced = {}, {}
        for s in seeds(a.seeds):
            rc, v = run(w, s, 0)
            bad += rc != 0
            for k, x in v.items():
                plain.setdefault(k, []).append(x)
            if a.traced:
                rc, v = run(w, s, 1)
                bad += rc != 0
                for k, x in v.items():
                    traced.setdefault(k, []).append(x)
        print(f"== {w}: {len(seeds(a.seeds))} seeds")
        for m in SPEC["end_to_end"]:
            xs = plain.get(m["name"])
            if not xs:
                print(f"  {m['name']}: no values"); continue
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
            line = (f"  {m['name']:<18} median {med:12.4f} {m['unit']:<4} "
                    f"q1 {q1:12.4f} q3 {q3:12.4f} iqr/med {(q3 - q1) / med:6.3f} "
                    f"(bound {m['bound']}) max/min {max(xs) / min(xs):6.3f}")
            if traced.get(m["name"]):
                tmed = statistics.median(traced[m["name"]])
                line += f"  traced {tmed:12.4f} overhead {(tmed - med) / med:+.3f}"
            print(line, flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
