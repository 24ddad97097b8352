#!/usr/bin/env python3
"""Serve-path benchmark runner.

    python3 perfbench/run.py --workload ingest|mixed --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the adapter and the benchmark from
source with sbt when either changed (the first run takes minutes), then
starts the benchmark JVM, which serves the adapter in-process and drives
it over HTTP. The last line of standard output is one JSON result
object. Everything the run writes stays under .bench_build/ in the
repository root.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("ingest", "mixed")

# Spark on JDK 17 needs these outside spark-submit (the adapter's
# build.sbt passes the same list to its forked mains).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, adapter and benchmark."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            out += [os.path.join(proj, f) for f in sorted(os.listdir(proj))
                    if f.endswith((".sbt", ".properties"))]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(src):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, building first if sources changed."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                with open(cp_file) as cf:
                    return cf.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building adapter and benchmark with sbt")
    t0 = time.time()
    rc = subprocess.call(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=840)
    if rc != 0:
        raise SystemExit("perfbench: sbt build failed (exit %d)" % rc)
    log("build took %.0f s" % (time.time() - t0))
    shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    with open(cp_file) as cf:
        return cf.read().strip()


def heap():
    """A quarter of the machine's memory, between 2 and 8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        gib = kb // (4 * 1024 * 1024)
    except (OSError, StopIteration, ValueError):
        gib = 2
    return "%dg" % max(2, min(8, gib))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    started = time.time()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no adapter sources next to the benchmark; nothing to measure")
        return 2
    cp = build()

    work = os.path.join(BUILD, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Xmx" + heap(), "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work,
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work-dir", work])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        # 180 s per run, 900 s for the run that builds
        limit = 170 if time.time() - started < 5 else 890 - (time.time() - started)
        out, _ = proc.communicate(timeout=max(30, limit))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log("benchmark JVM timed out")
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode("utf-8", "replace").strip().splitlines()
    if proc.returncode not in (0, 1) or not lines:
        log("benchmark JVM failed (exit %d)" % proc.returncode)
        return proc.returncode or 4
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    result = json.loads(lines[-1])
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
