#!/usr/bin/env python3
"""Day-load benchmark: one seeded HFP day through HfpLoadJob.loadDay.

Run from the repository root:

    python3 loadbench/run.py --workload fresh_day --seed 1 --seconds 20 --trace 0

Builds the benchmark (sbt, offline) on first use in a checkout, runs one
JVM for the workload, prints a summary, and prints the result as one JSON
object on the last line of standard output. Exits non-zero when the build
fails, the run fails, or any load's output differs from the generator's
ledger. See loadbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
ARGS_FILE = os.path.join(TARGET, "launch.args")
DIGEST_FILE = os.path.join(TARGET, "launch.digest")
WORKLOADS = ("fresh_day", "rerun_day", "jdbc_resume_day")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[loadbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of everything the build reads, so a stale build is redone."""
    h = hashlib.sha256()
    inputs = [
        os.path.join(ROOT, "build.sbt"),
        os.path.join(ROOT, "project", "build.properties"),
        os.path.join(HERE, "build.sbt"),
        os.path.join(HERE, "project", "build.properties"),
    ]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for path in inputs:
        h.update(path.encode())
        if os.path.isfile(path):
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.isfile(ARGS_FILE) and os.path.isfile(DIGEST_FILE):
        with open(DIGEST_FILE) as f:
            if f.read().strip() == digest:
                return
    log("building (sbt launcher)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "-Dsbt.offline=true"),
                                "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp])
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        sys.exit(1)
    if proc.returncode != 0 or not os.path.isfile(ARGS_FILE):
        log(f"build failed (exit {proc.returncode})")
        sys.exit(1)
    with open(DIGEST_FILE, "w") as f:
        f.write(digest + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("the program's sources (build.sbt, src/main/scala) are not next to loadbench/")
        sys.exit(2)
    build()

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    result = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # temporary files (Spark's artifact directories among them) stay in
    # the run's scratch directory
    cmd = [java, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "@" + ARGS_FILE,
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--result", result,
           "--trace-dir", os.path.join(HERE, "traces")]
    sys.stdout.flush()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s; stopping it")
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(1)
    try:
        with open(result) as f:
            out = json.load(f)
    except (OSError, ValueError) as e:
        log(f"no result ({e}); JVM exit {code}")
        sys.exit(code or 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    sys.exit(code if code != 0 else (0 if out.get("failed") == 0 else 1))


if __name__ == "__main__":
    main()
