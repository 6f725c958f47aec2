#!/usr/bin/env python3
"""Run one benchmark workload against the library built from this checkout.

    python3 bench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the library and the harness with sbt
(offline) and caches the runtime classpath under bench/target/; later runs
reuse it while the sources are unchanged. The harness then runs in one JVM
(local Spark) whose working files live in bench/.work/ and are removed when
the run ends. The last line of standard output is the JSON result; the exit
code is 0 only if every correctness check passed.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("puffy_reshape", "curate_corpus", "index_lifecycle")
CLASSPATH_FILE = os.path.join(BENCH, "target", "bench-classpath.txt")
WORK = os.path.join(BENCH, ".work")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"error: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            cached_stamp, cp = fh.read().split("\n", 1)
        if cached_stamp == stamp and all(
                os.path.exists(p) for p in cp.strip().split(os.pathsep)):
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    log_path = os.path.join(BENCH, "target", "build.log")
    print("building library and harness with sbt ...", file=sys.stderr)
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export bench/Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log,
                text=True, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not complete: {e}", 3)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    with open(log_path, "a") as log:
        log.write(r.stdout)
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        tail = "\n".join(lines[-30:])
        fail(f"build failed (see {log_path}):\n{tail}", 3)
    cp = lines[-1].strip()
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--digest-only", action="store_true",
                   help="print the seeded input digest and exit (no Spark)")
    args = p.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"library sources not found under {ROOT}", 2)
    cp = classpath()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    cores = min(4, len(os.sched_getaffinity(0)))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
           + [a for o in ADD_OPENS for a in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", WORK, "--cores", str(cores)]
           + (["--digest-only"] if args.digest_only else []))
    proc = subprocess.Popen(cmd, cwd=BENCH, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(WORK, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = 124
        print(f"error: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
