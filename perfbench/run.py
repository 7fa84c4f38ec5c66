#!/usr/bin/env python3
"""Run one benchmark workload of the graft library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the library
and the harness from source with sbt (offline) into .bench_build/; later runs
start the JVM directly. The last line of stdout is the JSON result.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

WORKLOADS = ("selective_append", "scan_dedup")
BUILD = ".bench_build"
HEAP = "4g"
_children = []
_stop = {}


def run_child(cmd, **kw):
    """Run a child process group to completion. After a SIGTERM or SIGINT to
    this script the group gets SIGTERM, and SIGKILL 30 s later."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(proc)
    if _stop:
        os.killpg(proc.pid, signal.SIGTERM)
    while True:
        try:
            code = proc.wait(timeout=1)
            break
        except subprocess.TimeoutExpired:
            if _stop and time.monotonic() - _stop["at"] > 30:
                os.killpg(proc.pid, signal.SIGKILL)
    _children.remove(proc)
    if _stop:
        sys.exit(128 + _stop["signum"])
    return code


def stop(signum, _frame):
    # forward the stop; run_child waits for the group and exits
    if not _children:
        sys.exit(128 + signum)
    _stop.update(signum=signum, at=time.monotonic())
    for proc in _children:
        try:
            os.killpg(proc.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass


def source_digest(root):
    """Digest of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src", "perfbench"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(path)
            for f in fs if "target" not in os.path.relpath(d, root).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile with sbt once per source digest; return the launch line."""
    launch = os.path.join(root, BUILD, "launch.txt")
    stamp = os.path.join(root, BUILD, "launch.digest")
    digest = source_digest(root)
    if os.path.exists(launch) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(launch) as lf:
                    return lf.read().splitlines()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.override.build.repos=true", "-Xmx2g"]).strip()
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbenchLaunch"],
                     cwd=os.path.join(root, "perfbench"), env=env, stdout=sys.stderr, stderr=sys.stderr)
    if code != 0 or not os.path.exists(launch):
        sys.exit("perfbench: build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(launch) as lf:
        return lf.read().splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        sys.exit("perfbench: run from the root of a graft source tree (build.sbt and src/ not found)")
    launch = build(root)
    classpath, jvm_opts = launch[0], launch[1:]
    out = os.path.join(root, BUILD, "perfbench")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: a run's JVM lives about a minute, and on a few cores C2's
    # compile threads compete with the work until the end of it; C1 alone made
    # the operations faster and their run-to-run spread smaller
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={tmp}", "-cp", classpath]
           + jvm_opts + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", a.trace, "--out", out])
    # UTF-8 locale as the library's own tests use; metric output does not
    # depend on the locale
    sys.exit(run_child(cmd, env=dict(os.environ, LC_ALL="C.UTF-8")))


if __name__ == "__main__":
    main()
