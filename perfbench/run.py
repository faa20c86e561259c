#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: batch-curation, stream-crawl (see
perfbench/METRICS.md). The first run in a checkout compiles the engine and
the benchmark with sbt (offline); later runs reuse the build until a source
file changes. The JVM's own output goes to stderr. Stdout carries the
report: every metric by name and unit, then, as the last line, one JSON
object with the keys correct, attempted, failed and metrics.

Exit codes: 0 when every operation ran and checked out; 1 when a run
failed, crashed or timed out (its result line is still printed, with
error_rate 1 for a crash); 2 when the program cannot be built here, in
which case no result is printed.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(BENCH, "target", "perfbench-build")
WORKLOADS = ("batch-curation", "stream-crawl")
# A run must end within 180 s; leave room for JVM start and teardown.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [ENGINE_SRC, os.path.join(ROOT, "build.sbt"),
            os.path.join(BENCH, "src", "main"),
            os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for path in files:
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt unless the classpath of this exact tree exists."""
    stamp = source_stamp()
    stamp_file = BUILD + ".stamp"
    cp_file = BUILD + ".classpath"
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    log("building engine and benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if "scala-library" in l and os.pathsep in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise RuntimeError(f"sbt build failed (exit {proc.returncode})")
    classpath = cps[-1].strip()
    if classpath.startswith("[info] "):
        classpath = classpath[len("[info] "):]
    os.makedirs(os.path.dirname(BUILD), exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")
    return classpath


def crashed_line(reason):
    log(reason)
    return json.dumps({"correct": False, "attempted": 1, "failed": 1,
                       "metrics": {}})


def run_jvm(classpath, args):
    """Run the workload JVM; return (exit code, report lines)."""
    work = os.path.join(BENCH, ".work")
    result = os.path.join(work, f"result-{args.workload}-{args.seed}.txt")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if os.path.exists(result):
        os.remove(result)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--bench-dir", BENCH, "--result", result]
    if args.golden_out:
        cmd += ["--golden-out", os.path.abspath(args.golden_out)]
    # The JVM's stdout goes to our stderr: only the report reaches stdout.
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr,
                            start_new_session=True)

    def stop():
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()

    def on_signal(signum, _frame):
        stop()
        sys.exit(128 + signum)

    # If this runner is stopped, the JVM it started stops with it.
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, on_signal)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        return 1, [crashed_line(f"run exceeded {RUN_TIMEOUT_S} s and was killed")]
    if not os.path.isfile(result):
        return 1, [crashed_line(f"workload JVM exited {code} without a result")]
    with open(result, encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    os.remove(result)
    if not lines:
        return 1, [crashed_line("empty result file")]
    return code, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--golden-out", help="write the batch golden file here "
                    "instead of checking against it")
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isdir(ENGINE_SRC):
        log(f"engine sources not found under {ENGINE_SRC}")
        return 2
    try:
        classpath = build()
    except (RuntimeError, OSError, subprocess.TimeoutExpired) as e:
        log(f"cannot build: {e}")
        return 2
    try:
        code, lines = run_jvm(classpath, args)
    finally:
        shutil.rmtree(os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}"),
                      ignore_errors=True)
    for line in lines:
        print(line)
    sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())
