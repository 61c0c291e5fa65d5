#!/usr/bin/env python3
"""Run one workload of the lakehouse benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--keep]

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline; a later run rebuilds only when
a source or build file changed), then starts one JVM that generates the
inputs from the seed, sets up, measures for the given seconds and checks
every output. Its report goes to stdout; the last stdout line is the
JSON result. All state lives in perfbench/.work/ and is removed at exit
unless --keep is given.
Exit code: 0 if every output was correct, non-zero otherwise.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("ingest_refresh", "search_serving")
LAUNCHER = os.path.join(BENCH, "target", "launcher.txt")
STAMP = os.path.join(BENCH, "target", "source.stamp")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def source_stamp():
    """Hash of the names, sizes and mtimes of every build input."""
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    for rel in ("build.sbt", "project/build.properties"):
        files += [os.path.join(ROOT, rel), os.path.join(BENCH, rel)]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(stamp):
    if os.path.exists(LAUNCHER) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    print("[perfbench] building engine and benchmark with sbt", file=sys.stderr, flush=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "writeLauncher"]
    proc = subprocess.Popen(cmd, cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("[perfbench] build timed out")
    if code != 0 or not os.path.exists(LAUNCHER):
        sys.exit(f"[perfbench] build failed (sbt exit {code})")
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")


def git_head():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none (not a git checkout)"
    except (OSError, subprocess.TimeoutExpired):
        return "none (git unavailable)"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's work directory (generated tables, oracle results)")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit(f"[perfbench] no engine sources beside the benchmark (looked in {ROOT})")
    stamp = source_stamp()
    build(stamp)
    with open(LAUNCHER) as f:
        lines = [l for l in f.read().splitlines() if l]
    classpath, jvm_opts = lines[0], lines[1:]

    work = os.path.join(BENCH, ".work", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, PERFBENCH_GIT_HEAD=git_head(),
               PERFBENCH_SOURCE_STAMP=stamp, PERFBENCH_PYTHON=sys.executable,
               PERFBENCH_ORACLE=os.path.join(BENCH, "oracle.py"))
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"] + jvm_opts +
           ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work])
    result = None
    try:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            sys.exit(f"[perfbench] run exceeded {RUN_TIMEOUT_S}s")
        for line in out.splitlines():
            if line.startswith('{"correct"'):
                result = line
            else:
                print(line)
    finally:
        if args.keep:
            print(f"[perfbench] work directory kept: {work}", file=sys.stderr)
        else:
            shutil.rmtree(work, ignore_errors=True)
    if result is None:
        sys.exit(f"[perfbench] no result (JVM exit {proc.returncode})")
    json.loads(result)
    print(result, flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
