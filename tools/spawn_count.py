#!/usr/bin/env python3
"""Count the shell commands a program forks.

    python3 tools/spawn_count.py -- <cmd...>

Runs `<cmd...>` with a temporary directory at the front of PATH that holds
one logging shim per watched command: chmod, readlink, ls, stat, bash and
sh. Each shim appends its name to a log and `exec`s the real binary,
so it adds no process of its own. When the command exits, prints the count
per watched command and the total, then exits with the command's own exit
code. Only processes started through a PATH lookup are seen (the JVM's
ProcessBuilder and Hadoop's `Shell` do that); an absolute path such as
`/bin/sh` bypasses the shims.

Example, one benchmark run:

    python3 tools/spawn_count.py -- python3 perfbench/run.py \\
        --workload llm_data --seed 1 --seconds 16 --trace 0
"""
import sys

sys.dont_write_bytecode = True

import argparse
import collections
import os
import shlex
import shutil
import subprocess
import tempfile

WATCHED = ("chmod", "readlink", "ls", "stat", "bash", "sh")


def main():
    ap = argparse.ArgumentParser(usage=__doc__.split("\n\n")[1].strip())
    ap.add_argument("cmd", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    cmd = a.cmd[1:] if a.cmd[:1] == ["--"] else a.cmd
    if not cmd:
        ap.error("no command given after --")
    shim_dir = tempfile.mkdtemp(prefix="spawn_count_")
    log = os.path.join(shim_dir, "spawn.log")
    open(log, "w").close()
    try:
        for name in WATCHED:
            real = shutil.which(name)
            if real is None:
                print(f"spawn_count: {name} not on PATH, not watched", file=sys.stderr)
                continue
            shim = os.path.join(shim_dir, name)
            # /bin/sh by absolute path: the shim for `sh` must not find itself
            with open(shim, "w") as f:
                f.write(f"#!/bin/sh\necho {name} >> {shlex.quote(log)}\n"
                        f"exec {shlex.quote(real)} \"$@\"\n")
            os.chmod(shim, 0o755)
        env = dict(os.environ, PATH=shim_dir + os.pathsep + os.environ.get("PATH", ""))
        rc = subprocess.run(cmd, env=env).returncode
        counts = collections.Counter(open(log).read().split())
    finally:
        shutil.rmtree(shim_dir, ignore_errors=True)
    print("spawn_count: " + " ".join(f"{n}={counts.get(n, 0)}" for n in WATCHED)
          + f" total={sum(counts.values())}")
    sys.exit(rc)


if __name__ == "__main__":
    main()
