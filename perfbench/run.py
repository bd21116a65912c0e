#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

The first run in a checkout builds graft and the harness with sbt
(perfbench/build.sbt compiles the root project through its own build);
later runs reuse the build while no source file changed. The harness then
runs in one JVM, and the last line printed is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Lines before it give the run's context (seed, nproc, master, load average,
versions, data directory) and, in a traced run, per-op layer counts and
span self times. `--record FILE` appends the digests the run saw to FILE,
in the format of perfbench/expected_digests.txt.

Everything the run leaves behind goes under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_digests.txt")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
# Limits on one run: the build may take long once; a run must end well
# within three minutes.
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# The heap starts small and may grow to HEAP_MAX, so the resident set
# follows what the run keeps live rather than the heap setting. The young
# generation has a fixed size: G1 otherwise sizes it from pause times, and
# the peak resident set then moved by up to 28% between runs of the same
# code.
HEAP_START = "512m"
HEAP_MAX = "2g"
YOUNG = "256m"


def fail(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to ROOT, in a stable order."""
    out = []
    for base in (".", "perfbench"):
        out.append(os.path.join(base, "build.sbt"))
        project = os.path.join(ROOT, base, "project")
        if os.path.isdir(project):
            out += [os.path.join(base, "project", f) for f in os.listdir(project)
                    if f.endswith((".sbt", ".properties", ".scala"))]
        for d, dirs, files in os.walk(os.path.join(ROOT, base, "src", "main")):
            dirs.sort()
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(os.path.normpath(f) for f in out if os.path.isfile(os.path.join(ROOT, f)))


def source_digest():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure_build(digest):
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(LAUNCH) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # keep the build's temporary files in the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip()
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                             cwd=HERE, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            rc = p.wait()
    if rc != 0 or not os.path.exists(LAUNCH):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed (exit {rc}); log in {log_path}", 3)
    with open(stamp, "w") as f:
        f.write(digest)


def commit_id(digest):
    """The git commit when the checkout is a repository, else the digest of
    the sources the build read."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True, timeout=10)
            if sha.returncode == 0:
                return "git:" + sha.stdout.strip()
        except (OSError, subprocess.TimeoutExpired):
            pass
    return "sources-sha256:" + digest[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record", help="append the observed digests to this file")
    a = ap.parse_args()
    if not a.workload.replace("_", "").isalnum():
        fail(f"bad workload name {a.workload!r}", 2)

    # The program is built from the checkout's sources; without them
    # there is nothing to measure.
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from the root of a graft checkout", 2)
    os.makedirs(BUILD, exist_ok=True)
    digest = source_digest()
    ensure_build(digest)

    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], [x for x in lines[1:] if x]
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)

    cmd = ["java", f"-Xms{HEAP_START}", f"-Xmx{HEAP_MAX}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
           *jvm_opts,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--data", DATA, "--work", work, "--expected", EXPECTED,
           "--commit", commit_id(digest)]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    log_path = os.path.join(BUILD, f"run-{a.workload}-{a.seed}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True)
        # a harness that overruns is killed with everything it started
        timer = threading.Timer(RUN_TIMEOUT_S, os.killpg, (p.pid, signal.SIGKILL))
        timer.start()
        try:
            out = [line.rstrip("\n") for line in p.stdout]
            rc = p.wait()
        finally:
            timer.cancel()
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    # the result line is held back and printed last, after it is checked
    for line in out[:-1]:
        print(line)
    # keep only the trace, which the run wrote into its work directory
    for name in os.listdir(work):
        if not name.startswith("trace-"):
            path = os.path.join(work, name)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    if not os.listdir(work):
        os.rmdir(work)
    if rc != 0 or not out:
        fail(f"harness exited with {rc}; log in {log_path}", 1)
    try:
        result = json.loads(out[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail(f"no result line; log in {log_path}", 1)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
