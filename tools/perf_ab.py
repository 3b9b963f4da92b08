#!/usr/bin/env python3
"""Parent-vs-change A/B of the benchmark of record.

    python3 tools/perf_ab.py --parent <rev> [--workloads sql_mixed,llm_data]
                             [--seeds 1-10] [--workdir DIR]

Exports `<rev>` with `git archive` into a fresh directory under `--workdir`
(default: the system temp directory) and runs the unmodified
`perfbench/run.py` of each side from that side's own root: the parent copy
and this checkout's working tree (the change). Every seed is one pair; the
side that runs first alternates from pair to pair. Runs are untraced, so
the figures are the end-to-end metrics `BENCHMARK.json` bounds.

For every workload and end-to-end metric it prints both sides' medians and
quartiles, the ratio of the medians, every run's value in seed order, the
per-seed change/parent ratios and the change's win count (ties count for
neither side), then whether a gain claim holds: the change wins at least
nine tenths of the pairs and the medians differ by more than the parent's
interquartile distance. Exits 1 if any run failed or reported
`correct: false`. Run from the repository root.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import json
import os
import shutil
import statistics
import subprocess
import tempfile
import time


def seeds(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def export(rev, workdir):
    """Unpack `rev`'s committed files into a new directory; returns it."""
    d = tempfile.mkdtemp(prefix="perf_ab_parent_", dir=workdir)
    archive = subprocess.run(["git", "archive", "--format=tar", rev],
                             capture_output=True, check=True).stdout
    subprocess.run(["tar", "-x", "-C", d], input=archive, check=True)
    return d


def run(root, workload, seed, seconds):
    """One untraced run from `root`; returns (ok, {metric: value}, seconds)."""
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True)
    res = None
    lines = p.stdout.strip().splitlines()
    if lines:
        try:
            res = json.loads(lines[-1])
        except ValueError:
            pass
    ok = p.returncode == 0 and res is not None and res.get("correct") is True
    if not ok:
        print(p.stderr[-2000:], file=sys.stderr)
    vals = {k: v["value"] for k, v in (res or {}).get("metrics", {}).items()}
    return ok, vals, time.time() - t0


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def report(workload, spec, pairs):
    print(f"\n== {workload}: {len(pairs)} pairs")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        ps = [p[name] for p, c in pairs if name in p and name in c]
        cs = [c[name] for p, c in pairs if name in p and name in c]
        if not ps:
            continue
        pm, cm = statistics.median(ps), statistics.median(cs)
        pq1, pq3 = quartiles(ps)
        cq1, cq3 = quartiles(cs)
        ratios = [c / p if p else float("nan") for p, c in zip(ps, cs)]
        wins = sum(1 for p, c in zip(ps, cs) if (c < p if lower else c > p))
        ties = sum(1 for p, c in zip(ps, cs) if c == p)
        claim = (wins >= 0.9 * len(ps) and abs(cm - pm) > pq3 - pq1)
        print(f"{name} ({m['unit']}, {m['better']} is better, bound {m['bound']})")
        print(f"  parent median {pm:.4g}  quartiles [{pq1:.4g}, {pq3:.4g}]")
        print(f"  change median {cm:.4g}  quartiles [{cq1:.4g}, {cq3:.4g}]")
        print(f"  change/parent median ratio {cm / pm if pm else float('nan'):.3f}")
        print("  parent runs     " + " ".join(f"{v:.4g}" for v in ps))
        print("  change runs     " + " ".join(f"{v:.4g}" for v in cs))
        print("  per-seed ratios " + " ".join(f"{r:.3f}" for r in ratios))
        print(f"  change wins {wins}/{len(ps)} (ties {ties}); "
              f"gain claim {'holds' if claim else 'does not hold'}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="git revision of the parent")
    ap.add_argument("--workloads", default="sql_mixed,llm_data")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workdir", default=None,
                    help="where the parent copy goes (default: system temp dir)")
    a = ap.parse_args()
    if not os.path.isfile("BENCHMARK.json"):
        sys.exit("perf_ab: run from the repository root")
    spec = json.load(open("BENCHMARK.json"))
    seconds = spec["run_seconds"]
    change = os.getcwd()
    parent = export(a.parent, a.workdir)
    print(f"perf_ab: parent {a.parent} exported to {parent}", flush=True)
    failed = 0
    try:
        for w in a.workloads.split(","):
            pairs = []
            for i, s in enumerate(seeds(a.seeds)):
                order = [("parent", parent), ("change", change)]
                if i % 2:
                    order.reverse()
                got = {}
                for side, root in order:
                    ok, vals, secs = run(root, w, s, seconds)
                    print(f"  {w} seed {s} {side}: {'ok' if ok else 'FAILED'}, "
                          f"{secs:.0f} s", flush=True)
                    failed += not ok
                    got[side] = vals
                if got["parent"] and got["change"]:
                    pairs.append((got["parent"], got["change"]))
            report(w, spec, pairs)
    finally:
        shutil.rmtree(parent, ignore_errors=True)
    if failed:
        print(f"\nperf_ab: {failed} run(s) failed or were incorrect", file=sys.stderr)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
