#!/usr/bin/env python3
"""Benchmark of record for llamadbspark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program
(`src/main/scala`) and the benchmark (`perfbench/src`) with the Scala
compiler that ships with the Spark jars, into `.bench_build/classes`; later
runs reuse it while the sources are unchanged. Inputs are generated from the
seed into `.bench_build/data/<workload>/seed-<n>` (cached per seed, so
generation never counts as set-up). The JVM drives the workload and writes
its figures; the DuckDB checks then run here. The last stdout line is
`{"correct", "attempted", "failed", "metrics"}`: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`. The exit code is 0 only
when the run completed and every check passed.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("sql_mixed", "llm_data")
SPEC = None  # BENCHMARK.json, read in main()
BUILD = ".bench_build"
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as build.sbt sets them).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory build.sbt names as `unmanagedBase`, else
    `$SPARK_HOME/jars`."""
    candidates = []
    if os.path.isfile("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    fail("no Spark jar directory with a Scala compiler (build.sbt unmanagedBase or SPARK_HOME)")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        fail("no program sources under src/main/scala; run from the repository root")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build(jars):
    """Compile program and benchmark once per distinct source tree."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob("src/main/resources/**", recursive=True)):
        if os.path.isfile(p):
            h.update(p.encode()); h.update(open(p, "rb").read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m",
                        "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                        "-d", tmp] + srcs, capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], r.stderr[-4000:], file=sys.stderr)
        fail("compile failed")
    if os.path.isdir("src/main/resources"):
        shutil.copytree("src/main/resources", tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def inputs(workload, seed):
    # keyed by the generator's source too, so a changed generator never
    # reuses stale inputs
    tag = hashlib.sha256(open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()[:12]
    d = os.path.abspath(os.path.join(BUILD, "data", workload, f"seed-{seed}-{tag}"))
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        os.rename(tmp, d)
    return d


def run_jvm(classes, jars, workload, data, out, trace):
    tmpdir = os.path.join(out, "tmp")
    os.makedirs(tmpdir)
    # -XX:-UsePerfData: the JVM would otherwise write its counters to /tmp.
    # -XX:TieredStopAtLevel=1: in a JVM this young the C2 compiler threads
    # burned 24-28 of the 40-44 CPU seconds of a sql_mixed run, more or less
    # as the host was busier; with C1 alone they take about 4 and the run is
    # no slower. C1 alone defaults to a 48 MB code cache, which Spark's
    # generated classes fill in an llm_data run (the compiler switches off,
    # then the JVM fails), so the cache gets the usual tiered size.
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-XX:+UseG1GC",
            "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
            f"-Djava.io.tmpdir={tmpdir}"] + ADD_OPENS +
           ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.Main", "--workload", workload, "--data", data, "--out", out,
            "--trace", str(trace)])
    with open(os.path.join(out, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"JVM did not finish within {RUN_TIMEOUT_S} s (log: {log.name})")
    res = os.path.join(out, "result.json")
    if r.returncode != 0 or not os.path.isfile(res):
        tail = open(os.path.join(out, "jvm.log")).read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"JVM exited with {r.returncode}")
    return json.load(open(res))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the common interface; each workload runs a fixed amount
    # of work, so that a faster or slower host never changes what is measured
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile("BENCHMARK.json"):
        fail("no BENCHMARK.json; run from the repository root")
    global SPEC
    SPEC = json.load(open("BENCHMARK.json"))

    t0 = time.time()
    jars = spark_jars()
    classes = os.path.abspath(build(jars))
    t1 = time.time()
    data = inputs(a.workload, a.seed)
    t2 = time.time()
    out = os.path.abspath(os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    res = run_jvm(classes, jars, a.workload, data, out, a.trace)

    t3 = time.time()
    bad, extras, notes = getattr(checks, a.workload)(data, out)
    print(f"perfbench: build {t1 - t0:.1f} s, inputs {t2 - t1:.1f} s, "
          f"jvm {t3 - t2:.1f} s, checks {time.time() - t3:.1f} s", file=sys.stderr)
    failed = res["failed"] + bad
    for e in res["errors"] + notes:
        print(f"perfbench: failed: {e}", file=sys.stderr)
    # human-readable lines first; machine readers take only the last line
    print(f"# {a.workload} seed={a.seed} trace={a.trace} "
          f"setup_s samples={res['setup_s_samples']} "
          f"(session start {res['setup_session_s_samples']}) "
          f"ops_failed_share={failed / max(1, res['attempted']):.4f}")
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}

    def unit(name):
        # the `#`-only figures carry their unit in their name
        for suffix, u in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s")):
            if name.endswith(suffix):
                return u
        return ""
    for k, v in list(res["e2e"].items()) + list(res["info"].items()):
        print(f"# {k} = {v:.6g} {units.get(k) or unit(k)}".rstrip())
    if a.trace:
        # every per-layer metric; a layer this workload never calls reads 0
        measured = {**res["layers"], **extras}
        metrics = {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in SPEC["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["e2e"][m["name"]], "unit": m["unit"]}
                   for m in SPEC["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
